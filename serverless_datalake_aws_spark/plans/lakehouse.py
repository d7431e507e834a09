"""Lakehouse maintenance queries: file-statistics data skipping.

The reference lake has NO skipping layer — every Athena query scans the
full S3 prefix and its point lookups only stay fast because DynamoDB
holds a second copy of the metadata (SURVEY §4.3,
index-data-lambda.py). These entries exercise the engine-native
replacement (sources/stats.py): per-file zone maps + a bloom file
index, with DuckDB value-parity as the proof that skipping changes I/O
only, never results. Pruning effectiveness (how many files the scan
actually opens) is asserted in tests/test_stats.py — a registered
query's contract is result equality.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.catalog import table
from serverless_datalake_aws_spark.operators.metrics import phase
from serverless_datalake_aws_spark.plans import query

# The registration-wall entries (m07/m10/m12/m13) deliberately pay an
# in-query table/index CONSTRUCTION (a one-time registration cost at
# real scale) before a cheap serving read, and both complete inside the
# callable (results must materialize before the temp workdir vanishes),
# so a caller cannot see the boundary: each marks it with
# phase("build") / phase("serve"), which bench.py publishes as
# queries_build / queries_serve (VERDICT r10 #3).


@query(
    "m07_stats_pruned_scan",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           -- scaled-integer sum: the day-per-type float sum is
           -- order-dependent at the 4dp rounding scale; q01's
           -- floor(x*scale + 0.5) BIGINT pattern is order-free and
           -- bit-identical across engines without the DECIMAL detour
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000 AS sum_value
    FROM events
    WHERE ts >= (SELECT MIN(ts) + INTERVAL 1 DAY FROM events)
      AND ts <  (SELECT MIN(ts) + INTERVAL 2 DAY FROM events)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def m07_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping end-to-end: cluster a copy of events by
    ts (repartitionByRange → each file covers a narrow time slice),
    build the footer-only stats index, then answer a one-day range
    query through `pruned_scan` — which opens only the files whose
    [min_ts, max_ts] overlap the day, re-applies the predicate, and
    must therefore match the full-scan oracle bit-for-bit. At 100 TB
    this is the difference between reading ~1/30th of a month-
    partitioned zone and reading all of it; the residual filter makes
    the index purely an I/O optimization.

    Scale: stats collection is O(#files) footer reads (no data
    pages); pruning is a metadata-scale DataFrame filter; only
    matching file paths are collected (bounded by #files)."""
    from serverless_datalake_aws_spark.sources.stats import (
        collect_file_stats,
        pruned_scan,
    )

    ev = table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="m07_")
    try:
        with phase("build"):
            # sticky like catalog.table's conf pins: the driver's plain
            # session writes INT96 timestamps by default, and INT96 carries
            # no footer min/max — the stats index would silently go blind
            # on ts (fail-open: correct, but nothing prunes)
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
            ev.select("event_type", "ts", "value").repartitionByRange(
                8, "ts"
            ).write.parquet(f"{work}/events")
            # a local relation read from the footers on the driver:
            # collecting its ts rows below runs no job
            stats = collect_file_stats(spark, f"{work}/events")
            # the zone maps already hold the global min(ts) — read it from
            # the metadata rows (min over #files values) instead of paying
            # a second full scan of events just to place the day window
            # (footer min is the exact column min; ts canonicalizes to
            # unix micros per collect_file_stats)
            min_us = min(
                int(r["min_v"])
                for r in stats.filter(F.col("column") == "ts").collect()
                if r["min_v"] is not None
            )
            min_ts = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=min_us)
            lo = min_ts + dt.timedelta(days=1)
            hi = min_ts + dt.timedelta(days=2)
        with phase("serve"):
            out = (
                pruned_scan(spark, f"{work}/events", stats, "ts", lo=lo, hi=hi)
                .filter(F.col("ts") < F.lit(hi))
                .groupBy("event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    (
                        F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
                        .cast("double")
                        / 10000
                    ).alias("sum_value"),
                )
                .orderBy("event_type")
            )
            # materialize before the temp dir disappears
            rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "m08_bloom_point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (
        SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3
    )
    ORDER BY o_orderkey
    """,
)
def m08_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-file-index point lookup: orders is rewritten hash-
    scattered (8 files, NOT clustered by o_orderkey — the layout where
    min/max zone maps are useless because every file spans the whole
    key range), a per-file bloom index is built over o_orderkey, and
    three point lookups run through `bloom_point_scan`, each opening
    only the candidate files (no false negatives by construction;
    false positives only cost extra I/O and are removed by the
    re-applied predicate). This is the engine-native twin of the
    reference's DynamoDB metadata copy: the lake indexes itself
    instead of shipping metadata to a second store.

    Scale: index build is one column-pruned pass over the key; the
    index is ≤ num_bits/64 rows per file; each probe is a
    5-row broadcast join against it."""
    from serverless_datalake_aws_spark.sources.stats import (
        bloom_point_scan,
        build_bloom_index,
    )

    orders = table(spark, sf_dir, "orders")
    keys = [
        r["o_orderkey"]
        for r in orders.select("o_orderkey").orderBy("o_orderkey").limit(3).collect()
    ]
    work = tempfile.mkdtemp(prefix="m08_")
    try:
        orders.select("o_orderkey", "o_custkey", "o_totalprice").repartition(
            8, "o_custkey"
        ).write.parquet(f"{work}/orders")
        blooms = build_bloom_index(
            spark, f"{work}/orders", "o_orderkey", num_bits=1 << 18
        )
        parts = [
            bloom_point_scan(
                spark, f"{work}/orders", blooms, "o_orderkey", k, num_bits=1 << 18
            )
            for k in keys
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        out = out.orderBy("o_orderkey")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "m10_hidden_partition_scan",
    oracle="""
    SELECT event_id, event_type, ROUND(value, 4) AS value
    FROM events
    WHERE user_id = (SELECT MIN(user_id) FROM events)
      AND ts >= (SELECT MIN(ts) + INTERVAL 1 DAY FROM events)
      AND ts <= (SELECT MIN(ts) + INTERVAL 3 DAY FROM events)
    ORDER BY event_id
    """,
)
def m10_hidden_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden partitioning end-to-end: events is written
    hive-partitioned by TWO derived transforms — event_date = days(ts)
    and user_bucket = bucket(8, user_id) — then queried through
    `hidden_scan` with predicates on the SOURCE columns only (a ts
    range + a user_id equality). The scan injects the equivalent
    partition predicates itself (foldable expressions, so Catalyst
    prunes to ≤3 date dirs × 1 bucket dir at plan time) and drops the
    partition columns: the caller never names the partition scheme,
    which is the Iceberg partition-transform contract (spec §Partition
    Transforms) that plain hive layouts lack. The full-scan oracle
    proves pruning changes I/O, never results.

    Scale: at days × 8-bucket layout a one-user three-day query opens
    3/days × 1/8 of the table's directories; predicate injection is
    plan-time metadata work. Pruning effectiveness is plan-gated in
    tests/test_partitioning.py (this entry's contract is equality)."""

    from serverless_datalake_aws_spark.operators.partitioning import (
        PartitionField,
        hidden_scan,
        hidden_write,
    )

    ev = table(spark, sf_dir, "events")
    first = ev.agg(
        F.min("ts").alias("t0"), F.min("user_id").alias("u0")
    ).first()
    lo = first["t0"] + dt.timedelta(days=1)
    hi = first["t0"] + dt.timedelta(days=3)
    spec = (
        PartitionField("event_date", "days", "ts"),
        PartitionField("user_bucket", "bucket", "user_id", 8),
    )
    work = tempfile.mkdtemp(prefix="m10_")
    try:
        with phase("build"):
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
            hidden_write(
                ev.select("event_id", "ts", "user_id", "event_type", "value"),
                f"{work}/events",
                spec,
            )
        with phase("serve"):
            out = (
                hidden_scan(
                    spark,
                    f"{work}/events",
                    spec,
                    eq={"user_id": first["u0"]},
                    between={"ts": (lo, hi)},
                )
                .select(
                    "event_id",
                    "event_type",
                    F.round("value", 4).alias("value"),
                )
                .orderBy("event_id")
            )
            rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "m11_version_diff",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey AS id, o_custkey AS cust, o_totalprice AS price
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    v2 AS (
        SELECT o_orderkey AS id, o_custkey AS cust,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(v1.id, v2.id) AS id,
           CASE WHEN v1.id IS NULL THEN 'added'
                WHEN v2.id IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM v1 FULL OUTER JOIN v2 ON v1.id = v2.id
    WHERE v1.id IS NULL OR v2.id IS NULL
       OR v1.price <> v2.price OR v1.cust <> v2.cust
    ORDER BY id
    """,
)
def m11_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel audit (Delta CDF's table_changes shape): two
    versions of an orders projection are PUBLISHED through the real
    versioned-table machinery (OCC claim + commit flag + atomic
    pointer, sources/versioning.py — the engine face of the
    reference's S3 bucket versioning, terraform main.tf:8-13), then
    `diff_versions` answers "what changed between v1 and v2" as one
    row per affected key with change ∈ {added, removed, changed}. The
    oracle recomputes the diff as a from-scratch FULL OUTER JOIN —
    agreement proves the snapshot isolation AND the row-content-hash
    change detection (md5 over sorted non-key columns) label exactly
    the keys whose values differ. The v2 mutation is `price + 1000`
    (IEEE addition, bit-identical cross-engine) — never a re-rounding,
    which could straddle a half-cent differently per engine.

    Scale: diff is one full-outer join on the key across two
    snapshots, both key-partitioned; hashes are row-local. Version
    publish is write-once + hardlink-free here (small projection);
    see m12 for the COW merge path."""
    from serverless_datalake_aws_spark.sources.versioning import (
        diff_versions,
        write_versioned,
    )

    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("price"),
    )
    v1 = base.filter(F.col("id") % 3 != 0)
    v2 = base.filter(F.col("id") % 7 != 0).withColumn(
        "price",
        F.when(F.col("id") % 5 == 0, F.col("price") + 1000.0).otherwise(
            F.col("price")
        ),
    )
    work = tempfile.mkdtemp(prefix="m11_")
    try:
        root = f"{work}/orders_v"
        # unconditional writes with explicit checks: an assert's side
        # effect vanishes under python -O, leaving no versions at all
        for expect, df in ((1, v1), (2, v2)):
            got = write_versioned(df, root)
            if got != expect:
                raise RuntimeError(f"versioned publish returned {got}")
        out = diff_versions(spark, root, old=1, new=2, key="id").orderBy("id")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "m12_merge_cow",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS id,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    maxk AS (SELECT MAX(o_orderkey) AS m FROM orders),
    src AS (
        SELECT id, cents + 12345 AS cents FROM base WHERE id % 97 = 1
        UNION ALL
        SELECT o_orderkey + (SELECT m FROM maxk) AS id, 777 AS cents
        FROM orders WHERE o_orderkey % 251 = 3
    )
    SELECT COALESCE(s.id, b.id) % 10 AS bucket,
           COUNT(*) AS n,
           CAST(SUM(COALESCE(s.cents, b.cents)) AS BIGINT) AS total_cents
    FROM base b FULL OUTER JOIN src s ON b.id = s.id
    GROUP BY 1 ORDER BY 1
    """,
)
def m12_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO with file-level copy-on-write, externally gated: the
    orders projection is published range-clustered by key (so the
    footer zone maps carve the table into disjoint key ranges), then
    `merge_versioned` applies an update-1%-of-keys + insert-new-keys
    source. Only files whose key range overlaps a source key are
    rewritten; the rest hard-link into the new version (the Delta COW
    contract — write cost O(affected files + source), not O(table)).
    The oracle recomputes the merged state as a from-scratch FULL
    OUTER JOIN over the same definitions; matching per-bucket counts
    and cent-exact totals prove matched-update, not-matched-insert,
    and untouched-row preservation all at once. All-integer arithmetic
    (cents as BIGINT) keeps both engines exact — no float-sum-order
    hazard at any SF.

    Scale: the affected-file classification joins source keys against
    the METADATA-scale stats table; rewrites and links are per-file.
    COW linking effectiveness (rewritten/linked counts) is asserted in
    tests/test_merge.py; this entry's contract is result equality."""
    from serverless_datalake_aws_spark.sources.versioning import (
        merge_versioned,
        read_versioned,
        write_versioned,
    )

    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    maxk = orders.agg(F.max("o_orderkey")).first()[0]
    updates = base.filter(F.col("id") % 97 == 1).withColumn(
        "cents", F.col("cents") + 12345
    )
    inserts = orders.filter(F.col("o_orderkey") % 251 == 3).select(
        (F.col("o_orderkey") + F.lit(maxk)).alias("id"),
        F.lit(777).cast("long").alias("cents"),
    )
    work = tempfile.mkdtemp(prefix="m12_")
    try:
        with phase("build"):
            root = f"{work}/orders_v"
            write_versioned(base.repartitionByRange(8, "id"), root)
            merge_versioned(
                spark, root, updates.unionAll(inserts), key="id"
            )
        with phase("serve"):
            out = (
                read_versioned(spark, root)
                .groupBy((F.col("id") % 10).alias("bucket"))
                .agg(
                    F.count("*").alias("n"),
                    F.sum("cents").alias("total_cents"),
                )
                .orderBy("bucket")
            )
            rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_M13_NQ = 5
_M13_CELLS = 8
_M13_NPROBE = 2
_M13_TOPK = 5


@query(
    "m13_vector_index_search",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings WHERE vec_id < {_M13_CELLS}),
    en AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        FROM (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)),
    asims AS (
        SELECT en.vec_id, c.cid,
               round(CASE WHEN en.nrm = 0 THEN 0
                     ELSE list_dot_product(c.cv, en.v)
                          / (sqrt(list_dot_product(c.cv, c.cv)) * en.nrm)
                     END, 6) AS sim
        FROM en CROSS JOIN c),
    assign AS (
        SELECT vec_id, cid FROM asims
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, cid) = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
          FROM en WHERE vec_id < {_M13_NQ}),
    probes AS (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(c.cv, q.qv)
                       / (sqrt(list_dot_product(c.cv, c.cv)) * q.qn), 6)
                       DESC, c.cid) AS pr
        FROM q CROSS JOIN c),
    cand AS (
        SELECT p.query_id, en.vec_id, a.cid,
               round(list_dot_product(en.v, q.qv) / (en.nrm * q.qn), 6)
                   AS score
        FROM assign a
        JOIN (SELECT query_id, cid FROM probes WHERE pr <= {_M13_NPROBE}) p
          ON a.cid = p.cid
        JOIN en ON en.vec_id = a.vec_id
        JOIN q ON q.query_id = p.query_id
        WHERE en.nrm > 0)
    SELECT query_id, vec_id, cid, score, rk
    FROM (SELECT query_id, vec_id, cid, score,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, vec_id) AS BIGINT) AS rk
          FROM cand)
    WHERE rk <= {_M13_TOPK}
    ORDER BY query_id, rk
    """,
)
def m13_vector_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's IVF knn surface end-to-end, value-oracled:
    build_vector_index lands the embeddings as cell-partitioned parquet
    behind an atomic versioned pointer, then {_M13_NQ} queries each
    probe their {_M13_NPROBE} nearest cells and return exact-cosine
    top-{_M13_TOPK} — the m07 pattern (engine API exercised inside a
    registered query) applied to vector search. The oracle replays the
    whole path in SQL: s05's rounded-cosine cell assignment, the
    per-query cell ranking, and the probe-restricted exact scoring —
    matching rows prove the pointer resolution, partition layout, cell
    routing, and scoring all compose correctly, not just each piece in
    isolation (tests/test_vector_index.py covers those).

    Scale: the probe scan reads only the probed cells' partitions
    (PartitionFilters, plan-asserted); per-query cost ∝ probed-cell
    population. The build is the one corpus-wide pass (the m10/m12
    registration-wall convention: in-query table builds are the
    measured cost, the serving legs are sub-second)."""
    from serverless_datalake_aws_spark.engine import DataLakeEngine

    emb = table(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="m13_")
    try:
        with phase("build"):
            eng = DataLakeEngine(spark, work)
            eng.build_vector_index(emb, n_cells=_M13_CELLS)
        with phase("serve"):
            qrows = sorted(
                (r["vec_id"], r["embedding"])
                for r in emb.filter(F.col("vec_id") < _M13_NQ)
                .select("vec_id", "embedding")
                .collect()
            )
            out = eng.vector_search_batch(
                [(qid, qv) for qid, qv in qrows],
                k=_M13_TOPK,
                nprobe=_M13_NPROBE,
            ).select("query_id", "vec_id", "cid", "score", "rk")
            rows = out.collect()  # materialize before the workdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
