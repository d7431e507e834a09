"""End-to-end engine pipeline tests — the reference's smoke flow
(SURVEY §5.2 #2): ingest → query (all four types) → process → search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.engine import DataLakeEngine


@pytest.fixture()
def engine(spark, tmp_path):
    return DataLakeEngine(spark, tmp_path / "lake")


SAMPLES = [
    {"product": "Laptop", "quantity": 2, "price": 999.5, "region": "North"},
    {"product": "Mouse", "quantity": 5, "price": 19.9, "region": "South"},
    {"product": "Laptop", "quantity": 1, "price": 1099.0, "region": "North"},
]


def test_ingest_and_point_lookup(engine):
    ids = engine.ingest_batch(SAMPLES, data_type="sales", tags=["test", "sales"])
    assert len(ids) == 3
    row = engine.query(type="id", id=ids[0]).first()
    assert row is not None
    assert row["data_type"] == "sales"
    assert row["status"] == "ingested"
    assert row["tags"] == ["test", "sales"]
    assert row["size_bytes"] > 0


def test_metadata_search_conjunction(engine):
    engine.ingest_batch(SAMPLES, data_type="sales", owner="alice")
    engine.ingest_batch([{"cpu": 0.9}], data_type="metrics", owner="bob")
    hits = engine.query(type="metadata", data_type="sales", owner="alice")
    assert hits.count() == 3
    assert engine.query(type="metadata", data_type="metrics").count() == 1
    # unfiltered search keeps the reference's Limit=20 default
    assert engine.query(type="metadata").count() == 4


def test_metadata_search_filtered_not_truncated(engine):
    # Reference parity (query-data-lambda.py:147-152): Limit=20 applies
    # ONLY to the unfiltered scan — a FILTERED search with >20 matches
    # must return them all (the round-8 snapshot commit regressed this
    # to a nondeterministic 20-row truncation).
    engine.ingest_batch(
        [{"n": i} for i in range(25)], data_type="bulk", owner="carol"
    )
    assert engine.search_metadata(data_type="bulk").count() == 25
    assert engine.query(type="metadata", owner="carol").count() == 25
    # unfiltered keeps the reference's 20-row scan default
    assert engine.search_metadata().count() == 20
    # an explicit caller limit is honored on both branches
    assert engine.search_metadata(data_type="bulk", limit=7).count() == 7
    assert engine.search_metadata(limit=5).count() == 5


def test_metadata_search_tags(engine):
    engine.ingest_batch(SAMPLES[:1], data_type="sales", tags=["gold", "eu"])
    engine.ingest_batch(SAMPLES[1:], data_type="sales", tags=["gold"])
    assert engine.search_metadata(tags=["gold"]).count() == 3
    assert engine.search_metadata(tags=["gold", "eu"]).count() == 1
    assert engine.search_metadata(tags=["none"]).count() == 0


def test_content_fetch_inner_join_semantics(engine):
    ids = engine.ingest_batch(SAMPLES, data_type="sales")
    content = engine.query(type="content", id=ids[1]).collect()
    assert len(content) == 1
    assert '"Mouse"' in content[0]["payload"]
    # missing id → empty result (the reference returns a 404-shaped miss)
    assert engine.query(type="content", id="nope").count() == 0


def test_sql_surface(engine, spark):
    engine.ingest_batch(SAMPLES, data_type="sales")
    engine.register_table("raw_records", engine.records("raw"))
    out = engine.query(
        type="sql",
        query="""
            SELECT get_json_object(payload, '$.region') AS region, count(*) AS n
            FROM raw_records GROUP BY 1 ORDER BY 1
        """,
    ).collect()
    assert [(r["region"], r["n"]) for r in out] == [("North", 2), ("South", 1)]


def test_process_promotes_and_indexes(engine):
    ids = engine.ingest_batch(SAMPLES, data_type="sales")
    processed = engine.process()
    assert processed.count() == 3
    assert "processed_timestamp" in processed.columns
    # metadata flipped to indexed (K7 upsert)
    meta = engine.meta()
    assert meta.filter(F.col("indexed")).count() == 3
    assert meta.filter(F.col("indexed_at").isNull()).count() == 0
    # search index has tokens for each record (K8)
    hits = engine.search(term="laptop")
    assert hits.count() == 2
    assert set(r["id"] for r in hits.collect()) <= set(ids)


def test_process_transform_hook(engine):
    engine.ingest_batch(SAMPLES, data_type="sales")
    processed = engine.process(
        transform=lambda df: df.withColumn(
            "price_band",
            F.when(
                F.get_json_object("payload", "$.price").cast("double") > 100, "high"
            ).otherwise("low"),
        )
    )
    bands = {r["price_band"] for r in processed.select("price_band").collect()}
    assert bands == {"high", "low"}


def test_search_match_all_and_type_filter(engine):
    engine.ingest_batch(SAMPLES, data_type="sales")
    engine.ingest_batch([{"cpu": 0.5, "laptop": False}], data_type="metrics")
    engine.process()
    all_idx = engine.search()
    assert all_idx.count() > 0
    sales_only = engine.search(term="laptop", data_type="sales")
    assert sales_only.count() == 2
    assert engine.search(term="laptop").count() == 3


def test_process_stream_exactly_once(engine, spark):
    engine.ingest_batch(SAMPLES, data_type="sales")
    engine.process_stream()
    out = f"{engine.zone('processed')}/records_stream"
    assert spark.read.parquet(out).count() == 3
    # drain again with no new data: checkpoint prevents duplicates
    engine.process_stream()
    assert spark.read.parquet(out).count() == 3
    # new ingest → only the new rows land
    engine.ingest_batch([{"product": "Cam", "quantity": 1}], data_type="sales")
    engine.process_stream()
    assert spark.read.parquet(out).count() == 4


def test_submit_sql_execution_id_flow(engine):
    engine.ingest_batch(SAMPLES, data_type="sales")
    engine.register_table("raw_records", engine.records("raw"))
    exec_id = engine.submit_sql(
        "SELECT count(*) AS n FROM raw_records"
    )
    assert isinstance(exec_id, str) and len(exec_id) == 36
    assert engine.get_query_results(exec_id).first()["n"] == 3


def test_index_incremental_only_new(engine, spark):
    ids1 = engine.ingest_batch(SAMPLES[:2], data_type="sales")
    assert engine.index_incremental() == 2
    idx1 = engine.search_index().select("id").distinct().count()
    assert idx1 == 2
    # nothing pending → no-op
    assert engine.index_incremental() == 0
    # new record → only it gets indexed (append, not rebuild)
    engine.ingest_batch([{"product": "Webcam", "quantity": 9}], data_type="sales")
    assert engine.index_incremental() == 1
    assert engine.search_index().select("id").distinct().count() == 3
    assert engine.search(term="webcam").count() == 1
    assert set(r["id"] for r in engine.search(term="laptop").collect()) <= set(ids1)


def test_curate_gold_zone(engine):
    engine.ingest_batch(SAMPLES, data_type="sales")
    engine.ingest_batch([{"cpu": 0.5}], data_type="metrics")
    engine.process()
    gold = engine.curate()
    rows = {r["data_type"]: r for r in gold.collect()}
    assert rows["sales"]["n_records"] == 3
    assert rows["metrics"]["n_records"] == 1
    assert rows["sales"]["total_bytes"] > 0


def test_query_unknown_type_raises(engine):
    with pytest.raises(ValueError, match="unknown query type"):
        engine.query(type="graphql", q="{}")


def test_ingest_empty_synthesizes_sample(engine):
    """Empty-body ingest synthesizes a typed sample payload — API
    parity with the reference's demo-data branch
    (ingest-data-lambda.py:59-62,135-180), one case per dataType."""
    import json

    def payload_of(data_id):
        row = engine.query(type="content", id=data_id).first()
        return json.loads(row["payload"])

    sales = payload_of(engine.ingest(data_type="sales"))
    assert {"date", "items", "total", "customer"} <= set(sales)
    assert len(sales["items"]) == 3 and sales["total"] == 126.34
    assert sales["customer"]["id"].startswith("CUST-")

    user = payload_of(engine.ingest(data_type="user"))
    assert user["userId"].startswith("USER-")
    assert user["preferences"] == {"theme": "dark", "notifications": True}

    metrics = payload_of(engine.ingest(data_type="metrics"))
    assert metrics["cpu"] == 42.5 and metrics["network"] == {"in": 1024, "out": 2048}

    generic = payload_of(engine.ingest(data_type="telemetry"))
    assert generic["sample"] is True and "telemetry" in generic["message"]


def test_mark_indexed_partition_scoped(engine, tmp_path):
    """K7 upsert: indexing one data_type must not rewrite other
    data_types' metadata partitions (path + mtime + bytes stable), and
    must stamp only the rows actually indexed (VERDICT r1 #3)."""
    import os
    from pathlib import Path

    engine.ingest_batch(SAMPLES, data_type="sales")
    assert engine.index_incremental() == 3
    sales_at = {
        r["id"]: r["indexed_at"]
        for r in engine.meta().filter(F.col("data_type") == "sales").collect()
    }
    assert all(ts is not None for ts in sales_at.values())

    def snapshot(dt):
        part = Path(engine.meta_path) / f"data_type={dt}"
        return {
            str(p): (os.path.getmtime(p), os.path.getsize(p))
            for p in part.rglob("*.parquet")
        }

    before = snapshot("sales")
    engine.ingest_batch([{"cpu": 0.7}], data_type="metrics")
    assert engine.index_incremental() == 1
    # sales partition untouched on disk
    assert snapshot("sales") == before
    # sales rows keep their original stamp (not re-stamped)
    after = {
        r["id"]: r["indexed_at"]
        for r in engine.meta().filter(F.col("data_type") == "sales").collect()
    }
    assert after == sales_at
    # metrics row actually stamped
    m = engine.meta().filter(F.col("data_type") == "metrics").first()
    assert m["indexed"] and m["indexed_at"] is not None


def test_warm_stamp_compiles_no_class(engine, spark):
    """The stamp time reaches `_meta` as a column of the id relation,
    not as a timestamp literal that whole-stage codegen would inline
    into a fresh class on every stamp: a warm `_mark_indexed` compiles
    nothing, and `indexed_at` lands on exactly the stamped rows."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    ids = engine.ingest_batch(
        [{"n": i} for i in range(9)], data_type="sales"
    )
    compiled = []
    for k in range(3):
        batch = ids[3 * k : 3 * k + 3]
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        engine._mark_indexed(
            spark.createDataFrame([(i,) for i in batch], "id string"), ["sales"]
        )
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
        rows = engine.meta().collect()
        done = set(ids[: 3 * k + 3])
        assert {r["id"] for r in rows if r["indexed"]} == done
        assert {r["id"] for r in rows if r["indexed_at"] is not None} == done
    assert compiled[2] == 0, compiled


def test_index_cdc_stream_incremental(engine, spark):
    """S11 true CDC (VERDICT r1 #6): ingest → meta change event →
    index updated via the checkpointed changelog stream, without a
    full rebuild and exactly-once per change."""
    import os
    from pathlib import Path

    ids1 = engine.ingest_batch(SAMPLES[:2], data_type="sales")
    engine.index_cdc()
    assert engine.search_index().select("id").distinct().count() == 2
    assert set(r["id"] for r in engine.search(term="laptop").collect()) <= set(ids1)
    idx_files = {
        str(p): os.path.getmtime(p)
        for p in Path(engine.search_index_path).rglob("*.parquet")
    }

    # drain again with no changes: checkpoint makes it a no-op
    engine.index_cdc()
    assert engine.search_index().select("id").distinct().count() == 2

    # new change event → only the new record indexed; prior index
    # files untouched (append, not rebuild)
    engine.ingest_batch([{"product": "Webcam", "quantity": 9}], data_type="sales")
    engine.index_cdc()
    assert engine.search_index().select("id").distinct().count() == 3
    assert engine.search(term="webcam").count() == 1
    after = {
        str(p): os.path.getmtime(p)
        for p in Path(engine.search_index_path).rglob("*.parquet")
    }
    assert set(idx_files) <= set(after)
    assert all(after[p] == m for p, m in idx_files.items())
    # metadata stamped for all three
    assert engine.meta().filter(F.col("indexed")).count() == 3


def test_curate_incremental_matches_recompute(engine):
    """Gold-zone maintenance from the change feed: folding only new
    changelog rows must reproduce exactly what the full curate()
    rescan computes — and re-draining with no changes is a no-op."""

    def as_map(df):
        return {
            (r["data_type"], r["ingest_date"]): (r["n_records"], r["total_bytes"])
            for r in df.collect()
        }

    engine.ingest_batch(SAMPLES, data_type="sales")
    engine.ingest_batch([{"cpu": 0.5}], data_type="metrics")
    first = as_map(engine.curate_incremental())
    s_key = next(k for k in first if k[0] == "sales")
    assert first[s_key][0] == 3 and first[s_key][1] > 0
    # no new changes → identical table
    assert as_map(engine.curate_incremental()) == first
    # a new batch folds in additively
    engine.ingest_batch([{"cpu": 0.9}], data_type="metrics")
    inc = as_map(engine.curate_incremental())
    m_key = next(k for k in inc if k[0] == "metrics")
    assert inc[m_key][0] == 2
    # and the incremental table equals a from-scratch recompute
    engine.process()
    assert as_map(engine.curate()) == inc


def test_engine_accepts_object_store_root(spark):
    """Path-scheme agnosticism (VERDICT r1 #8): an s3a:// root builds
    every path as a URI and never touches the local filesystem. No I/O
    happens until a read/write executes against the scheme."""
    eng = DataLakeEngine(spark, "s3a://my-lake/prod")
    assert eng.is_remote
    assert eng.zone("raw") == "s3a://my-lake/prod/raw"
    assert eng.meta_path == "s3a://my-lake/prod/_meta"
    assert eng.search_index_path == "s3a://my-lake/prod/_search_index"
    # trailing slash normalizes away
    assert DataLakeEngine(spark, "s3a://my-lake/prod/").zone("raw") == (
        "s3a://my-lake/prod/raw"
    )


def test_ingested_lake_scan_prunes_partitions(engine):
    # the hive layout (data_type/ingest_date) must buy actual partition
    # pruning — the scale property the reference's flat key scheme lacks
    engine.ingest_batch(SAMPLES, data_type="sales")
    engine.ingest_batch([{"cpu": 0.9}], data_type="metrics")
    df = engine.records("raw").filter("data_type = 'sales'")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scan = plan.split("Scan parquet", 1)[1]
    part_line = [l for l in scan.splitlines() if "PartitionFilters" in l]
    assert part_line and "data_type" in part_line[0], plan[:1500]
    assert df.count() == 3  # pruned scan still returns the right rows


def test_export_training_shards_roundtrip(engine, spark):
    engine.ingest_batch([{"n": i} for i in range(200)], data_type="sales")
    engine.process()
    m = engine.export_training_shards(target_shard_mb=1)
    assert m["total_rows"] == 200
    back = spark.read.parquet(engine.root + "/export/shards")
    assert back.count() == 200
    assert "payload" in back.columns


def test_curate_incremental_corrupt_summary_propagates(engine, spark, tmp_path):
    """A failing read of the curated summary must NOT silently reset
    history to one delta (same class as the MaintainedRollup ADVICE
    bug)."""
    import os

    engine.ingest_batch([{"n": 1}], data_type="sales")
    out = engine.zone("curated") + "/daily_summary"
    os.makedirs(out, exist_ok=True)
    with open(out + "/part-00000.parquet", "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception):
        engine.curate_incremental(timeout_s=120)
    # the corrupt file is untouched — history was not overwritten
    assert open(out + "/part-00000.parquet").read() == "not parquet"


def test_expire_drops_only_old_partitions(engine, spark):
    """Retention: ingest_date partitions older than keep_days are
    dropped; newer data and _meta stay."""
    import os

    engine.ingest_batch([{"n": 1}], data_type="sales")
    # forge an old partition next to today's
    root = engine.zone("raw") + "/records/data_type=sales"
    today_part = sorted(os.listdir(root))[0]
    old = root + "/ingest_date=2020-01-01"
    os.makedirs(old)
    src_dir = f"{root}/{today_part}"
    for f in os.listdir(src_dir):
        if f.endswith(".parquet"):
            import shutil

            shutil.copy(f"{src_dir}/{f}", f"{old}/{f}")
    dropped = engine.expire("raw", keep_days=30)
    assert dropped == ["2020-01-01"]
    assert not os.path.exists(old)
    assert os.path.exists(src_dir)  # today's partition survives
    assert engine.meta().count() == 1  # audit trail kept
    # idempotent
    assert engine.expire("raw", keep_days=30) == []


def test_lineage_records_ops_chain(engine, spark):
    engine.ingest_batch([{"n": i} for i in range(5)], data_type="sales")
    engine.process()
    engine.export_training_shards(target_shard_mb=1)
    lin = {r["op"]: r for r in engine.lineage().collect()}
    assert set(lin) == {"ingest", "promote", "export"}
    assert lin["ingest"]["n_rows"] == 5
    assert lin["export"]["n_rows"] == 5
    assert lin["export"]["dst"].endswith("export/shards")


def test_dedup_zone_keeps_first_copy(engine, spark):
    ids1 = engine.ingest_batch([{"n": 1}, {"n": 2}], data_type="sales")
    engine.ingest_batch([{"n": 1}], data_type="sales")  # exact dup payload
    engine.ingest_batch([{"n": 1}], data_type="logs")  # same payload, other type
    dropped = engine.dedup_zone("raw")
    assert dropped == 1
    left = engine.records("raw")
    assert left.count() == 3
    # the first-ingested copy (smallest id among dups) survived
    sales_ids = {r["id"] for r in left.filter("data_type = 'sales'").collect()}
    assert set(ids1) <= sales_ids or len(sales_ids) == 2
    # idempotent
    assert engine.dedup_zone("raw") == 0
    assert {r["op"] for r in engine.lineage().collect()} >= {"ingest", "dedup"}


def test_lake_report_zones_and_meta(engine, spark):
    # pre-ingest: zone rows only, all empty
    rpt0 = {r["name"]: r for r in engine.lake_report().collect()}
    assert set(rpt0) == {"raw", "processed", "curated"}
    assert rpt0["raw"]["n_items"] == 0
    engine.ingest_batch([{"n": i} for i in range(3)], data_type="sales")
    engine.process()
    rpt = engine.lake_report().collect()
    kinds = {(r["kind"], r["name"]): r for r in rpt}
    assert kinds[("zone", "raw")]["n_items"] > 0
    assert kinds[("zone", "raw")]["bytes"] > 0
    assert kinds[("zone", "processed")]["n_items"] > 0
    meta_rows = [r for r in rpt if r["kind"] == "meta_status"]
    assert sum(r["n_items"] for r in meta_rows) == 3
    assert sum(r["extra"] for r in meta_rows) == 3  # all indexed after process


def test_search_bm25_ranking(engine, spark):
    """BM25: among docs matching the term, higher-tf-shorter docs rank
    first; multi-token queries sum per-token scores."""
    engine.ingest_batch(
        [
            {"msg": "spark spark spark"},              # high tf, short
            {"msg": "spark plus many other words here to dilute length"},
            {"msg": "nothing relevant at all"},
            {"msg": "spark merge"},
        ],
        data_type="notes",
    )
    engine.process()
    hits = engine.search("spark", rank="bm25").collect()
    assert len(hits) == 3  # only matching docs
    assert hits[0]["score"] >= hits[-1]["score"]
    # multi-token: the doc containing both terms matches both
    multi = engine.search("spark merge", rank="bm25").collect()
    by_terms = {r["n_terms_matched"] for r in multi}
    assert 2 in by_terms
    with pytest.raises(ValueError, match="unknown rank"):
        engine.search("spark", rank="pagerank")


def test_export_split_shards_deterministic_and_disjoint(engine, spark):
    """Split export: ids are disjoint across splits, the union is the
    full zone, the assignment is deterministic (re-export yields the
    same membership), and same group_col value => same split."""
    engine.ingest_batch(
        [{"n": i, "grp": f"g{i % 7}"} for i in range(120)], data_type="sales"
    )
    engine.process()

    m = engine.export_split_shards(target_shard_mb=1)
    assert set(m) == {"train", "val", "test"}
    assert sum(v["total_rows"] for v in m.values()) == 120
    seen = {}
    for split in m:
        back = spark.read.parquet(engine.root + f"/export/splits/{split}")
        ids = {r["id"] for r in back.select("id").collect()}
        assert len(ids) == m[split]["total_rows"]
        for i in ids:
            assert i not in seen, f"{i} in both {seen.get(i)} and {split}"
            seen[i] = split
    # determinism: second export reproduces the exact membership
    m2 = engine.export_split_shards(subpath="export/splits2", target_shard_mb=1)
    for split in m:
        assert m2[split]["total_rows"] == m[split]["total_rows"]
        back = spark.read.parquet(engine.root + f"/export/splits2/{split}")
        assert {r["id"] for r in back.select("id").collect()} == {
            i for i, s in seen.items() if s == split
        }


def test_export_split_shards_group_cohesion(engine, spark):
    """Splitting on a group key keeps every group intact — the
    leakage-safety contract (d17 at the engine exit)."""
    import json

    engine.ingest_batch(
        [{"n": i, "site": f"site{i % 11}"} for i in range(110)],
        data_type="sales",
    )
    engine.process()

    def with_site(df):
        from pyspark.sql import functions as F

        return df.withColumn(
            "site", F.get_json_object("payload", "$.site")
        )

    engine.export_split_shards(
        subpath="export/bysite",
        group_col="site",
        transform=with_site,
        target_shard_mb=1,
    )
    site_split = {}
    for split in ("train", "val", "test"):
        back = spark.read.parquet(engine.root + f"/export/bysite/{split}")
        for r in back.select("site").distinct().collect():
            assert r["site"] not in site_split, (
                f"site {r['site']} straddles {site_split[r['site']]} and {split}"
            )
            site_split[r["site"]] = split
    assert len(site_split) == 11


def test_export_split_shards_bad_fractions(engine):
    import pytest as _pt

    with _pt.raises(ValueError):
        engine.export_split_shards(fractions=(0.5, 0.2, 0.2))


def test_export_split_shards_null_group_falls_back_to_id(engine, spark):
    """Records whose group_col is NULL must be split by record id, not
    silently routed to 'test' (md5(NULL) -> NULL -> otherwise branch)."""
    engine.ingest_batch(
        [{"n": i, "site": (f"s{i % 3}" if i % 2 == 0 else None)} for i in range(80)],
        data_type="sales",
    )
    engine.process()

    def with_site(df):
        from pyspark.sql import functions as F

        return df.withColumn("site", F.get_json_object("payload", "$.site"))

    m = engine.export_split_shards(
        subpath="export/nullsite",
        group_col="site",
        transform=with_site,
        target_shard_mb=1,
    )
    # NULL-site records must not be concentrated in test: with an
    # id-hash fallback they spread ~80/10/10, so train holds most rows
    assert m["train"]["total_rows"] > m["test"]["total_rows"]
    assert sum(v["total_rows"] for v in m.values()) == 80


def test_dedup_zone_recovers_interrupted_swap(engine, spark):
    """A crash between the rename swap's steps must be recoverable:
    dedup_zone rolls a `.dedup.tmp` staging dir forward (or `.dedup.old`
    back) at entry, so the zone never stays without a records dir
    (ADVICE r5: the old rmtree-then-rename left a hole)."""
    import shutil as _sh
    from pathlib import Path as _P

    engine.ingest_batch([{"n": 1}, {"n": 2}], data_type="sales")
    engine.ingest_batch([{"n": 1}], data_type="sales")  # dup
    path = _P(engine.zone("raw")) / "records"
    # simulate a crash AFTER staging completed and old was hidden but
    # BEFORE the staged dir was renamed into place
    tmp, old = _P(str(path) + ".dedup.tmp"), _P(str(path) + ".dedup.old")
    _sh.copytree(path, tmp)
    path.rename(old)
    assert not path.exists()
    dropped = engine.dedup_zone("raw")  # entry recovery rolls forward
    assert dropped == 1  # tmp had the pre-dedup copy; dedup then ran
    assert path.exists() and not tmp.exists() and not old.exists()
    assert engine.records("raw").count() == 2


def test_ingest_validation_quarantines_bad_rows(spark, tmp_path):
    """Contract-gated ingest: rows failing a (name, predicate) rule are
    quarantined — excluded from the raw zone, change feed, and search
    index, but auditable in _meta (status='quarantined', failed rules
    riding tags) and readable via engine.quarantine()."""
    from serverless_datalake_aws_spark.engine import DataLakeEngine

    eng = DataLakeEngine(spark, tmp_path / "lake")
    ids = eng.ingest_batch(
        [
            {"product": "Laptop", "price": 999.5},
            {"product": "Mouse"},  # no price -> fails has_price
            {"product": "", "price": 5.0},  # empty name -> fails nonempty
            {"product": "Desk", "price": -1.0},  # fails price_positive twice? no: one rule
        ],
        data_type="sales",
        validate=[
            ("has_price", "get_json_object(payload, '$.price') IS NOT NULL"),
            (
                "nonempty_product",
                "length(get_json_object(payload, '$.product')) > 0",
            ),
            (
                "price_positive",
                "CAST(get_json_object(payload, '$.price') AS DOUBLE) > 0",
            ),
        ],
    )
    assert len(ids) == 1  # only the Laptop row passes every rule
    assert eng.records("raw").count() == 1
    q = eng.quarantine()
    assert q.count() == 3
    failed = {
        tuple(sorted(r["failed_rules"])) for r in q.collect()
    }
    assert ("has_price", "price_positive") in failed  # no price fails both
    assert ("nonempty_product",) in failed
    assert ("price_positive",) in failed
    # _meta audit: 1 ingested + 3 quarantined, rules on tags
    st = {r["status"]: 0 for r in eng.meta().collect()}
    for r in eng.meta().collect():
        st[r["status"]] += 1
    assert st == {"ingested": 1, "quarantined": 3}
    # quarantined rows never reach the index via CDC
    eng.index_cdc()
    idx_ids = {r["id"] for r in eng.search_index().select("id").collect()}
    assert idx_ids == set(ids)


def test_ingest_validation_noop_without_rules(spark, tmp_path):
    """No validate arg -> byte-identical legacy behavior, no quarantine
    dir created."""
    from pathlib import Path as _P

    from serverless_datalake_aws_spark.engine import DataLakeEngine

    eng = DataLakeEngine(spark, tmp_path / "lake")
    ids = eng.ingest_batch([{"a": 1}, {"a": 2}], data_type="t")
    assert len(ids) == 2
    assert not (_P(eng.root) / "quarantine").exists()


def test_requeue_quarantined_redrive(spark, tmp_path):
    """DLQ redrive: rows passing the (relaxed) rules re-ingest as NEW
    events linked to the original id; failures stay; redelivery after
    a crash never double-ingests (idempotence via the _meta link)."""
    from serverless_datalake_aws_spark.engine import DataLakeEngine

    eng = DataLakeEngine(spark, tmp_path / "lake")
    rules = [
        ("has_price", "get_json_object(payload, '$.price') IS NOT NULL"),
        (
            "price_positive",
            "CAST(get_json_object(payload, '$.price') AS DOUBLE) > 0",
        ),
    ]
    eng.ingest_batch(
        [
            {"product": "Laptop", "price": 999.5},  # accepted
            {"product": "Mouse"},  # no price: quarantined
            {"product": "Desk", "price": -1.0},  # negative: quarantined
        ],
        data_type="sales",
        validate=rules,
    )
    assert eng.quarantine().count() == 2

    # upstream fix: negative prices are now allowed -> only has_price
    out = eng.requeue_quarantined(validate=[rules[0]])
    assert out == {"requeued": 1, "still_quarantined": 1}
    assert eng.records("raw").count() == 2  # Laptop + redriven Desk
    meta = eng.meta().collect()
    links = [r for r in meta if (r["description"] or "").startswith("requeued from ")]
    assert len(links) == 1 and links[0]["source"] == "requeue"
    # audit trail intact: both quarantine events still in _meta
    assert sum(1 for r in meta if r["status"] == "quarantined") == 2

    # redrive again: nothing new passes, nothing double-ingests
    assert eng.quarantine().count() == 1  # only Mouse stays
    out2 = eng.requeue_quarantined(validate=[rules[0]])
    assert out2 == {"requeued": 0, "still_quarantined": 1}  # idempotent
    assert eng.records("raw").count() == 2  # no double-ingest

    # retire every rule: the last row redrives and the DLQ empties
    out3 = eng.requeue_quarantined()
    assert out3 == {"requeued": 1, "still_quarantined": 0}
    assert eng.records("raw").count() == 3
    assert not (tmp_path / "lake" / "quarantine" / "records").exists()


def test_requeue_on_lake_that_never_quarantined(engine):
    # the requeue lock file's parent dir must be created on demand — a
    # fresh lake previously raised FileNotFoundError from os.open
    assert engine.requeue_quarantined() == {
        "requeued": 0,
        "still_quarantined": 0,
    }
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):  # graceful, catchable miss
        engine.quarantine()


def test_quarantine_snapshot_survives_concurrent_requeue(engine):
    engine.ingest_batch(
        [{"v": -1}, {"v": 2}],
        data_type="sales",
        validate=[
            ("nonneg", "CAST(get_json_object(payload, '$.v') AS INT) >= 0")
        ],
    )
    dlq = engine.quarantine()  # pinned snapshot
    engine.requeue_quarantined()  # swaps the DLQ dir out from under it
    assert dlq.count() == 1  # still readable: rows were materialized


def test_process_heals_its_own_swap_leftovers(engine, spark):
    engine.ingest_batch(SAMPLES, data_type="sales")
    engine.process()
    # simulate a crash between tmp.rename(path) and rmtree(old):
    # records/ live AND records.dedup.old left behind
    import shutil as _sh

    path = f"{engine.zone('processed')}/records"
    _sh.copytree(path, path + ".dedup.old")
    out = engine.process()  # previously ENOTEMPTY at rename(old)
    assert out.count() == 3
    from pathlib import Path as _P

    assert not _P(path + ".dedup.old").exists()
    assert not _P(path + ".dedup.tmp").exists()


def test_process_stamps_only_newly_indexed(engine, spark):
    ids_a = engine.ingest_batch(SAMPLES[:2], data_type="sales")
    engine.process()
    first = {
        r["id"]: r["indexed_at"]
        for r in engine.meta().filter(F.col("indexed")).collect()
    }
    assert set(first) == set(ids_a)
    import time

    time.sleep(1.1)  # make a reset indexed_at observable
    ids_b = engine.ingest_batch(SAMPLES[2:], data_type="sales")
    engine.process()
    after = {
        r["id"]: r["indexed_at"]
        for r in engine.meta().filter(F.col("indexed")).collect()
    }
    assert set(after) == set(ids_a) | set(ids_b)
    for i in ids_a:  # prior stamps preserved, not rewritten to now
        assert after[i] == first[i], i


def test_stats_root_scopes_to_records_on_remote_uri(spark, tmp_path):
    # file:// counts as remote (is_remote) but resolves through the
    # same Hadoop FileSystem API an s3a:// root would — pathlib probes
    # answered False for every URI and silently re-mixed sibling tables
    lake = tmp_path / "rlake"
    (lake / "processed").mkdir(parents=True)
    spark.range(3).write.parquet(str(lake / "processed" / "records"))
    spark.range(5).write.parquet(
        str(lake / "processed" / "records_stream")
    )
    eng = DataLakeEngine(spark, f"file://{lake}")
    assert eng.is_remote
    assert eng._stats_root("processed").endswith("/processed/records")
    # and without a records table the zone root is the scan root
    eng2 = DataLakeEngine(spark, f"file://{tmp_path}/rlake2")
    assert eng2._stats_root("processed").endswith("/processed")


def test_ingest_single_quarantined_returns_none(engine):
    # a quarantined single-record ingest must signal by returning None,
    # not crash with IndexError on ids[0]
    rid = engine.ingest(
        {"v": -5},
        data_type="sales",
        validate=[
            ("nonneg", "CAST(get_json_object(payload, '$.v') AS INT) >= 0")
        ],
    )
    assert rid is None
    ok = engine.ingest(
        {"v": 5},
        data_type="sales",
        validate=[
            ("nonneg", "CAST(get_json_object(payload, '$.v') AS INT) >= 0")
        ],
    )
    assert isinstance(ok, str)


def test_search_tokenizes_query_like_index(engine):
    # the index splits payloads on [^a-z0-9]+; the query side must too —
    # a whitespace split made 'hello-world' unmatchable forever
    engine.ingest_batch(
        [{"name": "hello-world", "mail": "user@example.com"}],
        data_type="notes",
    )
    engine.process()
    assert engine.search(term="hello-world").count() > 0
    assert engine.search(term="user@example.com").count() > 0
    assert engine.search(term="hello-world", rank="bm25").count() > 0


def test_requeue_after_all_quarantined_first_ingest(engine):
    # first-ever ingest where ALL records fail leaves raw/records with
    # no data files; the redrive used to crash on a schema-less read
    ids = engine.ingest_batch(
        [{"v": -1}, {"v": -2}],
        data_type="sales",
        validate=[
            ("nonneg", "CAST(get_json_object(payload, '$.v') AS INT) >= 0")
        ],
    )
    assert ids == []
    out = engine.requeue_quarantined()  # accept-all redrive
    assert out["requeued"] == 2 and out["still_quarantined"] == 0
    assert engine.records("raw").count() == 2


def test_index_incremental_skips_payloadless_meta(engine, spark):
    import shutil as _sh
    from pathlib import Path as _P

    ids = engine.ingest_batch(SAMPLES[:2], data_type="sales")
    # drop the raw partitions before any indexing ran (_meta rows are
    # kept by design — expire()'s audit-trail contract)
    _sh.rmtree(_P(engine.zone("raw")) / "records")
    engine.ingest_batch([{"product": "Cam", "quantity": 1}], data_type="gear")
    n = engine.index_incremental()
    assert n >= 1
    meta = {r["id"]: r["indexed"] for r in engine.meta().collect()}
    for i in ids:  # payload-less ids must NOT claim searchability
        assert not meta[i], i


def test_lake_report_remote_fails_closed(spark, tmp_path):
    eng = DataLakeEngine(spark, f"file://{tmp_path}/lake")
    with pytest.raises(NotImplementedError):
        eng.lake_report()


def test_expire_heals_crashed_swap_first(engine, spark):
    from pathlib import Path as _P

    engine.ingest_batch(SAMPLES, data_type="sales")
    # simulate a dedup/optimize crash between the two publish renames:
    # records/ hidden, complete staged copy present
    root = _P(engine.zone("raw"))
    (root / "records").rename(root / "records.dedup.tmp")
    dropped = engine.expire("raw", keep_days=0, today="2099-01-01")
    # heal ran first: the staged copy was republished and the expired
    # partitions actually dropped (previously the glob saw nothing and
    # retention silently skipped)
    assert dropped != []
    assert engine.meta().count() == 3  # audit rows intact


def test_all_pass_validation_leaves_no_quarantine(engine):
    """A validated ingest where every row passes must not materialize
    an EMPTY quarantine dir (just _SUCCESS) — a schema-less
    quarantine()/requeue read of it crashes with UNABLE_TO_INFER_SCHEMA
    and the DLQ surface would be permanently broken on a lake that
    validated but never quarantined."""
    from pathlib import Path as _P

    ids = engine.ingest_batch(
        [{"v": 5}, {"v": 7}],
        data_type="sales",
        validate=[
            ("nonneg", "CAST(get_json_object(payload, '$.v') AS INT) >= 0")
        ],
    )
    assert len(ids) == 2
    assert not (_P(engine.root) / "quarantine").exists()
    assert engine.requeue_quarantined() == {
        "requeued": 0,
        "still_quarantined": 0,
    }


def test_index_cdc_skips_vanished_records(engine, spark):
    """The index_incremental invariant, on the CDC path: a changelog id
    whose raw record no longer exists (expire keeps _meta + changelog
    as audit) appends zero tokens and must stay indexed=false — the
    old _handle stamped every batch id, permanently asserting
    searchability for tokenless records."""
    import shutil as _sh
    from pathlib import Path as _P

    ids = engine.ingest_batch(SAMPLES[:2], data_type="sales")
    _sh.rmtree(_P(engine.zone("raw")) / "records")
    engine.ingest_batch([{"product": "Cam", "quantity": 1}], data_type="gear")
    engine.index_cdc()
    meta = {r["id"]: bool(r["indexed"]) for r in engine.meta().collect()}
    for i in ids:  # payload-less ids must NOT claim searchability
        assert not meta[i], i
    assert sum(meta.values()) == 1  # the survivor indexed and stamped


def test_lake_report_heals_crashed_swap(engine, spark):
    """lake_report must run swap recovery like every other zone reader:
    a zone hidden in .dedup.tmp after a crashed dedup/optimize swap
    previously reported 0 files / 0 bytes — data-loss panic on the ops
    dashboard over a fully-populated zone."""
    from pathlib import Path as _P

    engine.ingest_batch(SAMPLES, data_type="sales")
    root = _P(engine.zone("raw"))
    (root / "records").rename(root / "records.dedup.tmp")
    rpt = {
        r["name"]: r
        for r in engine.lake_report().collect()
        if r["kind"] == "zone"
    }
    assert rpt["raw"]["n_items"] > 0
    assert rpt["raw"]["bytes"] > 0


def test_index_incremental_never_creates_schemaless_index(engine, spark):
    """An index pass where NOTHING is appendable (all pending records'
    raw data vanished, index never built) must not materialize a
    schema-less (_SUCCESS-only) index dir — the quarantine-dir bug
    class: every later schema-inferring read of the path would die
    with UNABLE_TO_INFER_SCHEMA, permanently breaking indexing AND
    search. Also pins the return value: vanished ids are NOT 'newly
    indexed' (a poll-until-zero caller must terminate)."""
    import shutil as _sh
    from pathlib import Path as _P

    engine.ingest_batch(SAMPLES[:2], data_type="sales")
    _sh.rmtree(_P(engine.zone("raw")) / "records")
    assert engine.index_incremental() == 0
    assert not _P(engine.search_index_path).exists()
    # the surface is still fully usable afterwards
    engine.ingest_batch([{"product": "Cam", "quantity": 1}], data_type="gear")
    assert engine.index_incremental() == 1
    assert engine.search(term="cam").count() == 1


@pytest.fixture(scope="module")
def crashed_index_lake(spark, tmp_path_factory):
    """A lake left mid-way by earlier indexing, for both index entry
    points to start from: `converged` has its tokens in the index but an
    unstamped `_meta` row (a writer died between append and stamp),
    `vanished` lost its raw record, `quarantined` failed validation and
    `fresh` is a plain new record. Returns (lake dir, ids, payloads)."""
    import shutil as _sh
    from pathlib import Path as _P

    eng = DataLakeEngine(spark, tmp_path_factory.mktemp("parity") / "lake")
    converged, fresh = eng.ingest_batch(
        [{"text": "alpha beta beta"}, {"text": "gamma delta"}], data_type="t"
    )
    (vanished,) = eng.ingest_batch([{"text": "lost words"}], data_type="gone")
    _sh.rmtree(_P(eng.zone("raw")) / "records" / "data_type=gone")
    assert eng.ingest_batch(
        [{"v": -1}],
        data_type="t",
        validate=[("nonneg", "CAST(get_json_object(payload, '$.v') AS INT) >= 0")],
    ) == []
    eng._tokenize(
        eng.records("raw").filter(F.col("id") == converged)
    ).write.mode("append").partitionBy("data_type").parquet(eng.search_index_path)
    meta = {r["id"]: r for r in eng.meta().collect()}
    (quarantined,) = [i for i, r in meta.items() if r["status"] == "quarantined"]
    assert not any(r["indexed"] for r in meta.values())
    payloads = {
        r["id"]: r["payload"] for r in eng.records("raw").collect()
    }
    ids = dict(
        converged=converged, fresh=fresh, vanished=vanished, quarantined=quarantined
    )
    return _P(eng.root), ids, payloads


@pytest.mark.parametrize("entry", ["index_incremental", "index_cdc"])
def test_index_entry_points_agree(spark, tmp_path, crashed_index_lake, entry):
    """Both index entry points run the same append-and-stamp step, so
    from the same lake state they leave the same index and `_meta`: no
    duplicate (id, token) rows, the crash-converged id stamped, the
    vanished and quarantined ids still unindexed. The expected state is
    derived here from the records' payloads, independently of either
    entry point."""
    import re
    import shutil as _sh
    from collections import Counter

    template, ids, payloads = crashed_index_lake
    _sh.copytree(template, tmp_path / "lake")
    eng = DataLakeEngine(spark, tmp_path / "lake")
    n = getattr(eng, entry)()
    if entry == "index_incremental":
        assert n == 2  # fresh appended + converged stamped

    idx = eng.search_index()
    assert idx.groupBy("id", "token").count().filter("count > 1").count() == 0
    want_index = {
        ("t", i, tok, tf)
        for i in (ids["converged"], ids["fresh"])
        for tok, tf in Counter(
            t for t in re.split("[^a-z0-9]+", payloads[i].lower()) if t
        ).items()
    }
    got_index = {
        (r["data_type"], r["id"], r["token"], r["tf"]) for r in idx.collect()
    }
    assert got_index == want_index

    got_meta = {
        r["id"]: (r["data_type"], r["status"], bool(r["indexed"]))
        for r in eng.meta().collect()
    }
    assert got_meta == {
        ids["converged"]: ("t", "ingested", True),
        ids["fresh"]: ("t", "ingested", True),
        ids["vanished"]: ("gone", "ingested", False),
        ids["quarantined"]: ("t", "quarantined", False),
    }


def test_meta_keeps_a_data_type_ending_in_old(engine):
    """`.old` is not swap debris (swaps stage under an `_old.` prefix):
    a data_type named `backup.old` reads back unchanged, and neither a
    metadata read nor an index stamp's swap renames its partition."""
    from pathlib import Path

    engine.ingest_batch([{"a": 1}], data_type="backup.old")
    meta = Path(engine.meta_path)
    before = sorted(p.name for p in meta.iterdir())
    assert "data_type=backup.old" in before
    assert [r["data_type"] for r in engine.meta().collect()] == ["backup.old"]
    assert sorted(p.name for p in meta.iterdir()) == before
    engine.index_incremental()
    rows = engine.meta().select("data_type", "indexed").collect()
    assert [(r["data_type"], r["indexed"]) for r in rows] == [("backup.old", True)]
    assert sorted(p.name for p in meta.iterdir()) == before
