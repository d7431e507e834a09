"""DataLakeEngine — the reference's control plane, Spark-native.

Reproduces the four public surfaces of ashis-88/serverless-DataLake-AWS:

  ingest(record)   — API ingest → raw zone + metadata row
                     (ingest-data-lambda.py:25-114)
  query(...)       — id / metadata / content / sql dispatch
                     (query-data-lambda.py:51-70)
  process(dataset) — raw → processed promotion + search indexing
                     (lambda-function.py:174-245)
  search(...)      — match_all / term search over the search index
                     (README.md:137-144, index-data-lambda.py)

One Spark engine replaces four AWS data planes: Spark SQL replaces
Athena, a Parquet `_meta` table replaces DynamoDB, a tokenized
`search_index` table replaces OpenSearch, and Structured Streaming
(streaming/pipeline.py) replaces the S3-event→Lambda fabric.

Zone layout (README.md:127-131): {root}/raw, {root}/processed,
{root}/curated. Ingested records land partitioned by
(data_type, ingest_date), mirroring the reference's
`{dataType}/{YYYY-MM-DD}/{uuid}.json` key scheme
(ingest-data-lambda.py:68) — which buys Spark partition pruning the
reference never exploited. Ingest is batch-first (`ingest_batch`): the
reference's one-object-per-record writes are its #1 scaling flaw at
100 TB (small-file problem), so the single-record `ingest()` is sugar
over the batched path.

Ingest→searchable takes a fixed number of Spark jobs, like the
reference's three calls (one S3 put, one DynamoDB put_item, one
update_item). An `ingest_batch` call's records are a driver-side list
bound for one (data_type, ingest_date) partition, so its raw, `_meta`,
`_changelog` and `_lineage` appends are written from the driver in
Spark's own file format (`sources.writers.append_rows`): no job, one
extra job when `validate` rules are evaluated. `index_cdc` collects each
micro-batch's (id, data_type, location) rows once and finds the ids to
append and to stamp in one action over only the partitions the batch
touched; the tokenizing append and the `_meta` copy-on-write stamp are
the remaining jobs. The stamp rewrites whole `data_type` partitions, so
it is the step whose cost still grows with the lake.
"""

from __future__ import annotations

import atexit
import json
import shutil
import time as _time
import uuid
from datetime import datetime, timezone
from pathlib import Path
from typing import Any, Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_datalake_aws_spark.sources.readers import is_missing_path
from serverless_datalake_aws_spark.sources.writers import append_rows, partition_dir
from serverless_datalake_aws_spark.streaming.pipeline import drain

META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("owner", T.StringType(), False),
        T.StructField("location", T.StringType(), False),
        T.StructField("size_bytes", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("indexed", T.BooleanType(), True),
        T.StructField("indexed_at", T.TimestampType(), True),
    ]
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("payload", T.StringType(), False),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("ingest_date", T.StringType(), False),
    ]
)

# Search index postings, partitioned by data_type: one row per (id,
# token) with the token's count `tf` and the document's length `dl`
# (its number of tokens, so Σtf over its postings).
INDEX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("token", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("dl", T.LongType()),
        T.StructField("data_type", T.StringType()),
    ]
)

# BM25's document statistics, partitioned by data_type: one row per
# searchable document, so a scope's N is its row count and Σdl the sum
# of its `dl` column.
DOC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("dl", T.LongType()),
        T.StructField("data_type", T.StringType()),
    ]
)

# Commit flag for the K7 staged-swap rewrite: a `_meta` stage directory
# is published only once this file exists inside it; recovery rolls the
# stage forward iff the flag landed, back otherwise.
_SWAP_READY = "_SWAP_READY"


def _failed_rules_expr(validate: list[tuple[str, str]]):
    """Array of the rule names a row FAILS (a NULL predicate counts as
    a failure — fail-closed). One definition shared by the ingest gate
    and the DLQ redrive so both classify a row identically; a one-sided
    change to the NULL convention would otherwise let the redrive
    accept rows the gate would quarantine."""
    return F.filter(
        F.array(
            *[
                F.when(~F.coalesce(F.expr(pred), F.lit(False)), F.lit(name))
                for name, pred in validate
            ]
        ),
        lambda x: x.isNotNull(),
    )


def _meta_row_schema(rows: list[dict]) -> T.StructType:
    """The file schema of the `_meta` / `_changelog` rows `_meta_rows`
    built for one append — the nullability Spark's writer derived from
    the expressions that filled them: `indexed` is always set (False),
    and `tags` / `description` are non-null when no row of the append
    holds a null there (a caller's literal, a rule list)."""
    filled = {c for c in ("tags", "description") if all(r[c] is not None for r in rows)}
    return T.StructType(
        [
            T.StructField(
                f.name,
                f.dataType,
                f.nullable and f.name != "indexed" and f.name not in filled,
            )
            for f in META_SCHEMA
        ]
    )

QUARANTINE_SCHEMA = T.StructType(
    RECORD_SCHEMA.fields
    + [T.StructField("failed_rules", T.ArrayType(T.StringType()), False)]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("at", T.TimestampType()),
    ]
)


def _meta_rows(
    records: list[dict],
    now: datetime,
    zone_root: str,
    source: str,
    owner: str,
    status: str,
    tags,
    description,
) -> list[dict]:
    """One unindexed `_meta` row per record, keyed by META_SCHEMA — the
    single row shape of ingest-data-lambda.py:65-97. `records` carry
    id / payload / data_type / ingest_date; `zone_root` is the records
    directory the `location` column points into; `tags` and
    `description` map a record to its value."""
    return [
        {
            "id": r["id"],
            "timestamp": now,
            "data_type": r["data_type"],
            "source": source,
            "owner": owner,
            "location": f"{zone_root}/data_type={r['data_type']}"
            f"/ingest_date={r['ingest_date']}",
            "size_bytes": len(r["payload"].encode("utf-8")),
            "status": status,
            "tags": tags(r),
            "description": description(r),
            "indexed": False,
            "indexed_at": None,
        }
        for r in records
    ]


def _unindexed() -> Column:
    """`_meta` rows still waiting for the index. Quarantined rows are
    unindexed BY DESIGN (their records never reached the raw zone or
    the index): sweeping them in would falsely mark rejected records
    as searchable."""
    return ~F.coalesce("indexed", F.lit(False)) & (
        F.coalesce("status", F.lit("")) != "quarantined"
    )


def _tokens(payload: Column) -> Column:
    """A payload's index tokens: lower-cased, split on [^a-z0-9]+, empty
    pieces dropped. Postings, `dl` and the query all tokenize by it."""
    return F.array_remove(F.split(F.lower(payload), "[^a-z0-9]+"), "")


def _id_frame(spark: SparkSession, ids, at: datetime | None = None) -> DataFrame:
    """`ids` as a broadcast one-column local relation (built from an
    arrow table, so no job runs to ship it): semi-joined against a
    scan, it keeps an id set of any size out of the plan text, where an
    `isin` literal list would sit. With `at`, every id also carries it
    as a timestamp column `_at`: a value in the data, where a timestamp
    literal would be inlined into freshly generated code on each call."""
    import pyarrow as pa

    cols = {"id": pa.array(list(ids), pa.string())}
    if at is not None:
        cols["_at"] = pa.array([at] * len(cols["id"]), pa.timestamp("us", tz="UTC"))
    return F.broadcast(spark.createDataFrame(pa.table(cols)))


def generate_sample_data(data_type: str) -> dict[str, Any]:
    """Typed sample payload for empty ingests — API parity with the
    reference's demo-data branch (ingest-data-lambda.py:135-180): the
    same sales/user/metrics/generic shapes, field for field."""
    now = datetime.now(timezone.utc)
    if data_type == "sales":
        return {
            "date": now.strftime("%Y-%m-%d"),
            "items": [
                {"product": "Widget A", "quantity": 5, "price": 10.99},
                {"product": "Gadget B", "quantity": 2, "price": 24.95},
                {"product": "Tool C", "quantity": 1, "price": 34.50},
            ],
            "total": 126.34,
            "customer": {
                "id": f"CUST-{uuid.uuid4().hex[:8]}",
                "region": "Northeast",
            },
        }
    if data_type == "user":
        return {
            "userId": f"USER-{uuid.uuid4().hex[:8]}",
            "name": "Sample User",
            "email": "user@example.com",
            "preferences": {"theme": "dark", "notifications": True},
            "lastLogin": now.isoformat(),
        }
    if data_type == "metrics":
        return {
            "timestamp": now.isoformat(),
            "cpu": 42.5,
            "memory": 68.3,
            "disk": 56.2,
            "network": {"in": 1024, "out": 2048},
        }
    return {
        "timestamp": now.isoformat(),
        "sample": True,
        "value": 12345,
        "message": f"This is sample data of type: {data_type}",
    }


def apply_metadata_search(
    df: DataFrame,
    data_type: str | None = None,
    owner: str | None = None,
    source: str | None = None,
    from_date: str | None = None,
    to_date: str | None = None,
    tags: list[str] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """The conjunctive metadata-search expression tree, factored out so
    access.PrincipalSession can run the same search over a
    policy-secured view of `_meta` (F1 eq / F2 AND / F3 between /
    F4 array-contains / F6 limit).

    Limit semantics mirror the reference exactly
    (query-data-lambda.py:147-152): the default Limit=20 applies ONLY
    to the unfiltered scan; filtered searches return every match. An
    explicit caller `limit` is honored on both branches."""
    conds = []
    if data_type is not None:
        conds.append(F.col("data_type") == data_type)
    if owner is not None:
        conds.append(F.col("owner") == owner)
    if source is not None:
        conds.append(F.col("source") == source)
    if from_date is not None:  # one-sided ranges are valid requests
        conds.append(F.col("timestamp") >= from_date)
    if to_date is not None:
        conds.append(F.col("timestamp") <= to_date)
    for tag in tags or []:
        conds.append(F.array_contains("tags", tag))
    if not conds:
        # the reference table-scans with Limit=20 when no filter is
        # given (query-data-lambda.py:148-152); filtered scans are
        # unbounded unless the caller asks otherwise
        return df.limit(20 if limit is None else limit)
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    out = df.filter(cond)
    return out if limit is None else out.limit(limit)


class DataLakeEngine:
    """Spark-native data lake engine with medallion zones."""

    ZONES = ("raw", "processed", "curated")

    def __init__(self, spark: SparkSession, root: str | Path):
        """`root` may be a local path or any Hadoop-FS URI the session's
        filesystems support (s3a://bucket/lake, gs://, abfss://, hdfs://).
        Object-store roots need no pre-created "directories" (flat
        keyspace); local roots get their zone dirs made eagerly. The
        hadoop-aws / committer conf for S3 is documented in SCALE.md."""
        self.spark = spark
        self.root = str(root).rstrip("/")
        self.is_remote = "://" in self.root
        if not self.is_remote:
            for z in self.ZONES:
                Path(self.root, z).mkdir(parents=True, exist_ok=True)
        from serverless_datalake_aws_spark.access import AccessController

        self.acl = AccessController(self.root)

    # -- access control (reference: Cognito + IAM, SURVEY §2 auth gap) ------
    def grant(
        self,
        principal: str,
        dataset: str,
        cols: list[str] | None = None,
        row_filter: str | None = None,
        masks: dict[str, str] | None = None,
    ):
        """Grant `principal` read access to `dataset` (raw / processed /
        curated / meta), optionally limited to `cols`, rows matching
        `row_filter`, and with per-column `masks` (hash / redact /
        partial / null — Unity Catalog data-masking parity). Resolves
        to column-pruned, row-filtered, mask-projected views at query
        time — see access.py for the model and the SQL-session
        isolation contract."""
        return self.acl.grant(principal, dataset, cols, row_filter, masks)

    def revoke(self, principal: str, dataset: str | None = None) -> int:
        return self.acl.revoke(principal, dataset)

    def as_principal(self, principal: str):
        """Scoped facade: every read entry point, policy-checked."""
        from serverless_datalake_aws_spark.access import PrincipalSession

        return PrincipalSession(self, principal)

    # -- paths -------------------------------------------------------------
    def zone(self, name: str) -> str:
        return f"{self.root}/{name}"

    @property
    def meta_path(self) -> str:
        return f"{self.root}/_meta"

    @property
    def search_index_path(self) -> str:
        return f"{self.root}/_search_index"

    @property
    def search_stats_path(self) -> str:
        return f"{self.root}/_search_stats"

    @property
    def changelog_path(self) -> str:
        return f"{self.root}/_changelog"

    # -- ingest (reference entry point 1, SURVEY §3.1) ----------------------
    def ingest(self, record: dict[str, Any] | None = None, **meta: Any) -> str | None:
        """Ingest one JSON record; returns its id, or None when
        validation quarantined it (the batch API signals this by
        omission; indexing ids[0] crashed with IndexError). Sugar over
        `ingest_batch` — see module docstring on small files.

        With no record (the reference's empty-body demo path,
        ingest-data-lambda.py:59-62), a typed sample payload is
        synthesized from the data_type."""
        if record is None:
            record = generate_sample_data(meta.get("data_type", "unknown"))
        ids = self.ingest_batch([record], **meta)
        return ids[0] if ids else None

    def ingest_batch(
        self,
        records: list[dict[str, Any]],
        data_type: str = "unknown",
        source: str = "api",
        owner: str = "system",
        tags: list[str] | None = None,
        description: str | None = None,
        validate: list[tuple[str, str]] | None = None,
    ) -> list[str]:
        """Batched ingest: records → raw zone (partitioned by data_type,
        ingest_date) + one `_meta` row each (ingest-data-lambda.py:65-97).

        Defaults mirror the reference (T8: dataType='unknown',
        source='api', owner='system' at ingest-data-lambda.py:54-56).

        `validate` adds the contract gate the reference's
        accept-any-JSON ingest lacks: a list of (rule_name,
        sql_predicate) pairs evaluated PER ROW against the payload
        (`payload` is the JSON string column — use
        get_json_object(payload, '$.field') in predicates). Rows
        failing any rule are QUARANTINED instead of ingested: they
        land under quarantine/records with a failed_rules column, get
        a `_meta` row with status='quarantined' (audit trail), and are
        excluded from the raw zone, the change feed, and therefore the
        search index and downstream curation. Returns the ids of the
        ACCEPTED records only. All rules ride one collect of the batch
        (the only Spark job of a validated call).

        The records are already a driver-side list and always land in
        one (data_type, ingest_date) partition, so every table is
        appended from the driver (`sources.writers.append_rows`): no
        Spark job, Spark's own file format, each file published by a
        rename. Remote roots keep Spark's writer."""
        now = datetime.now(timezone.utc)
        ingest_date = now.strftime("%Y-%m-%d")
        rows = [
            {
                "id": str(uuid.uuid4()),
                "payload": json.dumps(rec),
                "data_type": data_type,
                "ingest_date": ingest_date,
            }
            for rec in records
        ]
        raw_root = self.zone("raw")
        failed: dict[str, list[str]] = {}
        if validate and rows:
            failed = {
                r["id"]: r["failed_rules"]
                for r in self.spark.createDataFrame(rows, RECORD_SCHEMA)
                .select("id", _failed_rules_expr(validate).alias("failed_rules"))
                .filter(F.size("failed_rules") > 0)
                .collect()
            }
        if failed:
            # quarantine write first so a crash between the two writes
            # can only lose bad rows to re-ingest, never double-accept.
            # Nothing is written when nothing failed: an empty
            # quarantine dir breaks every schema-less quarantine()/
            # requeue read with UNABLE_TO_INFER_SCHEMA.
            qroot = f"{self.root}/quarantine/records"
            bad = [
                dict(r, failed_rules=failed[r["id"]]) for r in rows if r["id"] in failed
            ]
            append_rows(
                self.spark, qroot, bad, QUARANTINE_SCHEMA, ("data_type", "ingest_date")
            )
            # failed rules ride tags (already array<string>; a
            # join/split round-trip would corrupt rule names
            # containing a comma)
            qmeta = _meta_rows(
                bad, now, qroot, source, owner, "quarantined",
                lambda r: r["failed_rules"], lambda r: "failed ingest validation",
            )
            append_rows(
                self.spark, self.meta_path, qmeta, _meta_row_schema(qmeta), ("data_type",)
            )
            self._log_lineage("quarantine", source, qroot, len(bad))
            rows = [r for r in rows if r["id"] not in failed]
        # an append into a raw/records that an interrupted dedup_zone
        # publish renamed away would start a fresh directory and hide
        # the staged copy from every later recovery: roll it forward
        self._recover_zone_swap("raw")
        append_rows(
            self.spark, f"{raw_root}/records", rows, RECORD_SCHEMA,
            ("data_type", "ingest_date"),
        )
        meta_tags = None if tags is None else [str(t) for t in tags]
        meta_desc = None if description is None else str(description)
        meta_rows = _meta_rows(
            rows, now, f"{raw_root}/records", source, owner, "ingested",
            lambda r: meta_tags, lambda r: meta_desc,
        )
        # _meta is hive-partitioned by data_type: metadata searches by
        # type prune partitions, and the K7 upsert (_mark_indexed) can
        # swap only affected partitions instead of the whole table.
        meta_schema = _meta_row_schema(meta_rows)
        append_rows(
            self.spark, self.meta_path, meta_rows, meta_schema, ("data_type",)
        )
        # Append-only change feed (S11): the stand-in for the
        # reference's DynamoDB stream (index-data-lambda.py:51-65).
        # index_cdc() consumes it as a checkpointed file stream.
        append_rows(self.spark, self.changelog_path, meta_rows, meta_schema)
        self._log_lineage("ingest", source, f"{raw_root}/records", len(rows))
        return [r["id"] for r in rows]

    def quarantine(self) -> DataFrame:
        """Rows rejected by ingest validation, with their failed_rules —
        the DLQ the reference's fabric implies but never materializes
        (failed Lambda invocations vanish into retries).

        Local lakes return a PINNED snapshot, materialized while the
        requeue lock is held: the frame stays lazy only until the lock
        releases, and a concurrent requeue's directory swap would yank
        part files out from under any later action. The DLQ is
        rejected-rows-sized by design, so the materialization is small;
        raises like a plain read when nothing was ever quarantined."""
        path = f"{self.root}/quarantine/records"
        if self.is_remote:
            return self.spark.read.parquet(path)
        with self._requeue_lock():
            self._recover_requeue_swap(
                Path(self.root) / "quarantine" / "records"
            )
            df = self.spark.read.parquet(path)
            return self.spark.createDataFrame(df.collect(), df.schema)

    def requeue_quarantined(
        self, validate: list[tuple[str, str]] | None = None
    ) -> dict[str, int]:
        """DLQ redrive: re-evaluate quarantined rows against `validate`
        (None = accept all — the operator fixed the data or retired the
        rule) and re-ingest the passers as NEW ingest events; failures
        stay quarantined. The quarantined `_meta` row REMAINS as the
        audit trail (append-only metadata, like the reference's
        DynamoDB history) — the requeued record gets a fresh id whose
        description links the original.

        Crash-safe by construction, not by ordering: the requeued id
        and its raw partition are DETERMINISTIC (id = md5 of the
        original id, ingest_date = the original row's), so the raw
        append dedups against exactly the partitions it would land in
        and the `_meta` append dedups on the original-id link — a
        retry after a crash anywhere re-runs both writes idempotently.
        The quarantine rewrite is a staged rename swap (old dir hidden,
        staged dir published, then reclaimed) with entry-time recovery,
        so no crash point loses still-quarantined rows.
        Returns {"requeued": n, "still_quarantined": m}."""
        if self.is_remote:
            raise NotImplementedError(
                "requeue swaps the local quarantine dir; object stores "
                "route through versioned publish"
            )
        with self._requeue_lock():
            qpath = Path(self.root) / "quarantine" / "records"
            self._recover_requeue_swap(qpath)
            if not qpath.exists():
                return {"requeued": 0, "still_quarantined": 0}
            q = self.spark.read.parquet(str(qpath))
            if validate:
                q = q.drop("failed_rules").withColumn(
                    "failed_rules", _failed_rules_expr(validate)
                )
                passing = q.filter(F.size("failed_rules") == 0)
                staying = q.filter(F.size("failed_rules") > 0)
            else:
                passing = q
                staying = q.limit(0)
            # idempotence guard: original ids already requeued (linked from
            # a _meta description) are skipped on redelivery
            already = (
                self.meta()
                .filter(F.col("description").startswith("requeued from "))
                .select(
                    F.substring_index("description", "requeued from ", -1).alias(
                        "id"
                    )
                )
                .distinct()
            )
            passing = passing.join(F.broadcast(already), "id", "left_anti")
            now = datetime.now(timezone.utc)
            # DETERMINISTIC replay identity: the new id derives from the
            # original and the row lands under its ORIGINAL ingest_date, so
            # a crash-retry recomputes the identical rows and the per-sink
            # anti-joins below make each write idempotent (no uuid() /
            # localCheckpoint pinning needed)
            # one collect: the passers are DLQ-sized by design
            fresh = [
                r.asDict()
                for r in passing.select(
                    F.md5(F.concat(F.lit("requeue:"), F.col("id"))).alias("id"),
                    "payload",
                    "data_type",
                    "ingest_date",
                    F.col("id").alias("orig_id"),
                ).collect()
            ]
            n = len(fresh)
            if n:
                raw_root = self.zone("raw")
                self._recover_zone_swap("raw")  # see _index_append
                raw = self._read_partitions(
                    f"{raw_root}/records",
                    RECORD_SCHEMA,
                    {
                        (("data_type", r["data_type"]), ("ingest_date", r["ingest_date"]))
                        for r in fresh
                    },
                )
                existing = set() if raw is None else {
                    r["id"]
                    for r in raw.join(
                        _id_frame(self.spark, [r["id"] for r in fresh]), "id", "left_semi"
                    )
                    .select("id")
                    .collect()
                }
                append_rows(
                    self.spark,
                    f"{raw_root}/records",
                    [r for r in fresh if r["id"] not in existing],
                    RECORD_SCHEMA,
                    ("data_type", "ingest_date"),
                )
                meta_rows = _meta_rows(
                    fresh, now, f"{raw_root}/records",
                    "requeue", "system", "ingested",
                    lambda r: None, lambda r: f"requeued from {r['orig_id']}",
                )
                meta_schema = _meta_row_schema(meta_rows)
                append_rows(
                    self.spark, self.meta_path, meta_rows, meta_schema, ("data_type",)
                )
                append_rows(self.spark, self.changelog_path, meta_rows, meta_schema)
                self._log_lineage(
                    "requeue", str(qpath), f"{raw_root}/records", n
                )
            # rewrite the DLQ without the requeued rows (tmp+swap). Gate on
            # rows REMOVED, not rows requeued now: a retry after a crash
            # mid-requeue has n == 0 (idempotence guard skipped them) but
            # must still clear the already-redriven rows from the DLQ.
            m = staying.count()
            removed = q.count() - m
            tmp = Path(str(qpath) + ".requeue.tmp")
            old = Path(str(qpath) + ".requeue.old")
            if removed and m:
                # staged rename swap (same protocol as the zone rewrites):
                # hide current, publish staged, reclaim — a crash at any
                # point leaves either the old DLQ or the complete staged
                # copy for _recover_requeue_swap to roll forward
                staying.write.mode("overwrite").partitionBy(
                    "data_type", "ingest_date"
                ).parquet(str(tmp))
                qpath.rename(old)
                tmp.rename(qpath)
                shutil.rmtree(old)
            elif removed:
                shutil.rmtree(qpath, ignore_errors=True)
            return {"requeued": n, "still_quarantined": m}

    def _requeue_lock(self):
        """Serializes DLQ mutation + recovery: two concurrent requeues
        would both pass the idempotence guards before either writes
        (double-ingest), and an unlocked reader's recovery could rename
        a LIVE swap's staging out from under the writer."""
        from serverless_datalake_aws_spark.sources.commitlog import FileLock

        # the lock file's parent must exist BEFORE acquire: on a lake
        # that never quarantined anything, os.open(O_CREAT) in a
        # missing dir raises FileNotFoundError instead of the graceful
        # zero-rows answer the callers promise
        Path(self.root, "quarantine").mkdir(parents=True, exist_ok=True)
        return FileLock(
            f"{self.root}/quarantine/records.requeue.lock", ttl=120.0
        )

    def _recover_requeue_swap(self, qpath: Path) -> None:
        """Roll an interrupted DLQ rewrite forward (staged copy exists,
        live dir hidden) or back (old dir still hidden, no staged
        copy), then clear leftover staging. Caller holds the requeue
        lock."""
        tmp = Path(str(qpath) + ".requeue.tmp")
        old = Path(str(qpath) + ".requeue.old")
        if not qpath.exists():
            if tmp.exists():
                tmp.rename(qpath)  # staged copy is complete: forward
            elif old.exists():
                old.rename(qpath)  # swap never started publishing: back
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)

    # -- metadata table ------------------------------------------------------
    def meta(self) -> DataFrame:
        if not self.is_remote:
            self._recover_meta_swap()
        return self.spark.read.schema(META_SCHEMA).parquet(self.meta_path)

    def _recover_zone_swap(self, zone: str) -> None:
        """Heal a zone whose records dir vanished mid-swap (VERDICT r6
        item 5): dedup_zone's publish is rename(path→old) →
        rename(tmp→path) → rmtree(old); death between the renames
        leaves no records dir but a COMPLETE staged copy in `.dedup.tmp`
        (staging always finishes before the swap starts) — roll
        forward; with only `.dedup.old` present, roll back. Runs at
        every records() read, at dedup_zone() entry and before the raw
        zone is read or appended by ingest, indexing and requeue, under
        the zone lock so it cannot race a live swap. No-op when the dir
        exists."""
        if self.is_remote:
            return
        path = Path(f"{self.zone(zone)}/records")
        if path.exists():
            return
        tmp, old = Path(str(path) + ".dedup.tmp"), Path(str(path) + ".dedup.old")
        if not (tmp.exists() or old.exists()):
            return  # nothing staged: genuinely empty zone, not a crash
        with self._zone_lock(zone):
            self._recover_zone_swap_locked(zone)

    def _recover_zone_swap_locked(self, zone: str) -> None:
        """The roll-forward/back itself; caller MUST hold the zone
        lock (FileLock is not reentrant)."""
        path = Path(f"{self.zone(zone)}/records")
        tmp, old = Path(str(path) + ".dedup.tmp"), Path(str(path) + ".dedup.old")
        if not path.exists() and (tmp.exists() or old.exists()):
            # tmp is always COMPLETE when the records dir is missing
            # (staging finishes before the first rename), so forward
            # beats back; old is the fallback for a pre-publish death
            (tmp if tmp.exists() else old).rename(path)
        if old.exists():
            shutil.rmtree(old)  # completed swap that died before reclaim
        if tmp.exists():
            shutil.rmtree(tmp)  # stale staging from a pre-swap crash

    def records(self, zone: str = "raw") -> DataFrame:
        self._recover_zone_swap(zone)
        return self.spark.read.parquet(f"{self.zone(zone)}/records")

    # -- query dispatch (reference entry point 2, SURVEY §3.2) ---------------
    def query(self, type: str, **params: Any) -> DataFrame:
        """Four-way dispatch mirroring query-data-lambda.py:51-70."""
        if type == "id":
            return self.query_by_id(params["id"])
        if type == "metadata":
            return self.search_metadata(**params)
        if type == "content":
            return self.get_content(params["id"])
        if type == "sql":
            return self.sql(params["query"])
        raise ValueError(f"unknown query type: {type!r}")

    def query_by_id(self, data_id: str) -> DataFrame:
        """Keyed point lookup (S7, query-data-lambda.py:101-117)."""
        return self.meta().filter(F.col("id") == data_id)

    def search_metadata(
        self,
        data_type: str | None = None,
        owner: str | None = None,
        source: str | None = None,
        from_date: str | None = None,
        to_date: str | None = None,
        tags: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Conjunctive metadata search — the boto3 Attr AST of
        query-data-lambda.py:127-145 rebuilt as a Column expression tree
        (F1 eq / F2 AND / F3 between / F4 array-contains / F6 limit).
        Reference parity (query-data-lambda.py:147-152): the default
        Limit=20 applies only to the unfiltered scan; filtered searches
        return every match unless the caller passes an explicit limit."""
        return apply_metadata_search(
            self.meta(),
            data_type=data_type,
            owner=owner,
            source=source,
            from_date=from_date,
            to_date=to_date,
            tags=tags,
            limit=limit,
        )

    def get_content(self, data_id: str) -> DataFrame:
        """Metadata-driven content fetch (J2 inner-join semantics,
        query-data-lambda.py:160-193): the N+1 get_item→get_object loop
        becomes one broadcast semi-join against the record store."""
        meta = self.meta().filter(F.col("id") == data_id).select("id")
        return self.records("raw").join(F.broadcast(meta), "id", "inner")

    def sql(self, sql_query: str) -> DataFrame:
        """The analytical surface (§2.7). The reference submits the
        string to Athena and never fetches results
        (query-data-lambda.py:195-218); we parse/optimize/execute with
        Catalyst and return materialized results synchronously."""
        return self.spark.sql(sql_query)

    # -- async-shaped SQL (API parity with the reference's execution-id
    #    flow, SURVEY §7.3) ---------------------------------------------------
    def submit_sql(self, sql_query: str) -> str:
        """Submit SQL, get an execution id (the reference's API shape at
        query-data-lambda.py:208-218) — but unlike the reference, the
        results are actually persisted and fetchable (K11 results sink)."""
        exec_id = str(uuid.uuid4())
        result = self.spark.sql(sql_query)
        result.write.mode("overwrite").parquet(
            f"{self.root}/_query_results/{exec_id}"
        )
        return exec_id

    def get_query_results(self, exec_id: str) -> DataFrame:
        """Fetch results for a prior `submit_sql` execution id — the
        half of the flow the reference left unimplemented
        (query-data-lambda.py:210-212)."""
        return self.spark.read.parquet(f"{self.root}/_query_results/{exec_id}")

    # -- process / promote (reference entry point 3, SURVEY §3.3) ------------
    def register_table(self, name: str, df: DataFrame) -> None:
        """Catalog registration (replaces the Glue crawler, S9)."""
        df.createOrReplaceTempView(name)

    def crawl(self, subdir: str | None = None):
        """Discover and register datasets dropped into the lake by
        EXTERNAL writers — the other half of Glue-crawler parity (S9):
        `register_table`/`save_table` cover the engine's own writes at
        write time; `crawl` walks the zone tree (or one `subdir`) for
        foreign files. See catalog.crawl for the leaf-table heuristic,
        format dispatch, and the scale notes. Returns the discovery
        report (list of CrawledDataset)."""
        from serverless_datalake_aws_spark.catalog import crawl as _crawl

        root = f"{self.root}/{subdir}" if subdir else self.root
        return _crawl(self.spark, root)

    def _versioned_root(self, name: str) -> Path:
        # pointer/flag maintenance uses local-FS atomic renames; on an
        # object-store root the same layout needs the committer/rename
        # semantics of the store (documented in SCALE.md) — refuse
        # rather than corrupt
        if self.is_remote:
            raise NotImplementedError(
                "versioned tables require a local lake root in this build"
            )
        return Path(self.root) / "versioned" / name

    def publish_versioned(self, name: str, df: DataFrame) -> int:
        """Publish `df` as the next version of curated table `name` —
        the engine face of the reference's S3 bucket versioning
        (aws-data-lake-terraform-main.tf:8-13): an overwrite preserves
        prior versions; readers resolve an atomically-replaced pointer
        and never observe a partial write."""
        from serverless_datalake_aws_spark.sources.versioning import (
            write_versioned,
        )

        return write_versioned(df, self._versioned_root(name))

    def read_versioned(self, name: str, version: int | None = None) -> DataFrame:
        """Current (default) or time-travel read of a versioned table."""
        from serverless_datalake_aws_spark.sources.versioning import (
            read_versioned,
        )

        return read_versioned(self.spark, self._versioned_root(name), version)

    def merge_versioned(
        self,
        name: str,
        source: DataFrame,
        key: str,
        matched: str = "update",
        not_matched: str = "insert",
    ) -> int:
        """MERGE INTO the versioned table `name` (Delta's
        whenMatched/whenNotMatched trio) with file-level copy-on-write:
        only files whose key zone map overlaps the source keys are
        rewritten; the rest are hard-linked into the new version. See
        sources/versioning.py merge_versioned for the protocol."""
        from serverless_datalake_aws_spark.sources.versioning import (
            merge_versioned,
        )

        return merge_versioned(
            self.spark, self._versioned_root(name), source, key, matched, not_matched
        )

    def read_versioned_asof(self, name: str, ts: float) -> DataFrame:
        """Time travel by timestamp (Delta TIMESTAMP AS OF): newest
        version committed at or before unix-seconds `ts`."""
        from serverless_datalake_aws_spark.sources.versioning import (
            read_versioned_asof,
        )

        return read_versioned_asof(self.spark, self._versioned_root(name), ts)

    def vacuum_versioned(self, name: str, keep: int = 2) -> list[int]:
        """Expire old noncurrent versions (the lifecycle
        noncurrent_version_expiration rule); returns pruned versions."""
        from serverless_datalake_aws_spark.sources.versioning import vacuum

        return vacuum(self._versioned_root(name), keep=keep)

    # -- file-statistics index / data skipping (Delta stats parity) --------
    @property
    def stats_path(self) -> str:
        return f"{self.root}/_stats"

    def _stats_root(self, zone: str) -> str:
        """The directory the stats/bloom layer indexes and scans: the
        zone's records table when it exists (sibling tables like
        processed/records_stream or curated/daily_summary hold
        overlapping or differently-shaped data — mixing them into one
        scan would duplicate rows), else the zone root (externally
        dropped flat layouts). Existence is probed through the Hadoop
        FileSystem of the root's scheme — pathlib answers False for
        every s3a://gs:// URI, which would silently re-mix the sibling
        tables on exactly the object-store lakes this guards."""
        candidate = f"{self.zone(zone)}/records"
        if not self.is_remote:
            return candidate if Path(candidate).exists() else self.zone(zone)
        jvm = self.spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(candidate)
        fs = jpath.getFileSystem(
            self.spark.sparkContext._jsc.hadoopConfiguration()
        )
        return candidate if fs.exists(jpath) else self.zone(zone)

    def analyze(self, zone: str = "raw") -> int:
        """Build (or rebuild) the per-file zone-map index for `zone`:
        footer-only min/max/null-count stats for every top-level
        column, written to `_stats/<zone>`. The reference has no
        skipping layer — every Athena query scans the whole prefix
        (SURVEY §4.3); this is the engine-native twin of Delta's
        per-file stats. Cost is O(#files) footer reads on the driver —
        no data pages, no Spark job. The new index file is published
        (staged, renamed into place) BEFORE the old ones are removed,
        so a concurrent `scan_pruned`/`maintain` never finds the index
        missing; in between, a reader may see both, and a duplicate
        stats row only widens `prune_files` (fail-open). Returns
        #files."""
        if self.is_remote:
            raise NotImplementedError(
                "footer walk requires a local lake root in this build; on "
                "an object store, collect stats from the FileStatus list "
                "+ footer reads via the S3A client"
            )
        from serverless_datalake_aws_spark.sources.stats import (
            STATS_SCHEMA,
            file_stat_rows,
            list_parquet_files,
        )

        self._recover_zone_swap(zone)  # heal a crashed rewrite first
        root = self._stats_root(zone)
        files = list_parquet_files(root)
        out = Path(self.stats_path) / zone
        stale = [Path(f) for f in list_parquet_files(out)]
        out.mkdir(parents=True, exist_ok=True)
        append_rows(self.spark, str(out), file_stat_rows(files), STATS_SCHEMA)
        for f in stale:  # with the checksum a Spark-written index left
            f.unlink(missing_ok=True)
            f.with_name(f".{f.name}.crc").unlink(missing_ok=True)
        return len(files)

    def file_stats(self, zone: str = "raw") -> DataFrame:
        # the schema is given: a zone with no files leaves an index
        # directory with no file in it
        from serverless_datalake_aws_spark.sources.stats import STATS_SCHEMA

        return self.spark.read.schema(STATS_SCHEMA).parquet(
            f"{self.stats_path}/{zone}"
        )

    def scan_pruned(self, zone: str, column: str, lo=None, hi=None) -> DataFrame:
        """Range scan of `zone` that opens only files whose min/max
        can contain [lo, hi] (plus never-indexed files — fail-open),
        with the predicate re-applied: skipping changes I/O, never
        results. Combine with layout.zorder_write / compact so files
        cover narrow ranges and the prune bites."""
        from serverless_datalake_aws_spark.sources.stats import pruned_scan

        self._recover_zone_swap(zone)
        return pruned_scan(
            self.spark,
            self._stats_root(zone),
            self.file_stats(zone),
            column,
            lo,
            hi,
        )

    def build_key_index(
        self,
        zone: str,
        key: str,
        num_bits: int = 1 << 20,
        num_hashes: int = 5,
    ) -> int:
        """Per-file bloom index over `key` for equality skipping on
        unclustered high-cardinality columns (the reference keeps a
        DynamoDB copy of metadata for this; here the lake indexes
        itself). Long-form (file, word, word_val) Parquet + the
        sizing params on every row so probes self-configure. Returns
        #index rows."""
        if self.is_remote:
            raise NotImplementedError(
                "key index requires a local lake root in this build"
            )
        from pyspark.sql import functions as F

        from serverless_datalake_aws_spark.sources.stats import build_bloom_index

        self._recover_zone_swap(zone)
        idx = (
            build_bloom_index(
                self.spark, self._stats_root(zone), key, num_bits, num_hashes
            )
            .withColumn("num_bits", F.lit(num_bits))
            .withColumn("num_hashes", F.lit(num_hashes))
        )
        out = f"{self.stats_path}/{zone}__bloom__{key}"
        idx.write.mode("overwrite").parquet(out)
        # footer-metadata count of what landed (the write_hidden
        # convention) — a full Spark re-scan of the index just for the
        # return value costs an extra job over up to num_bits/64 rows
        # per indexed file
        import pyarrow.parquet as pq

        from serverless_datalake_aws_spark.sources.stats import (
            list_parquet_files,
        )

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in list_parquet_files(out)
        )

    def scan_by_key(self, zone: str, key: str, value) -> DataFrame:
        """Point scan backed by the bloom index: opens ~fpp × #files
        + the true file(s) instead of the whole zone."""
        from serverless_datalake_aws_spark.sources.stats import bloom_point_scan

        self._recover_zone_swap(zone)
        blooms = self.spark.read.parquet(
            f"{self.stats_path}/{zone}__bloom__{key}"
        )
        first = blooms.select("num_bits", "num_hashes").first()
        if first is None:
            # empty index (all-NULL key or empty zone at build time):
            # fail OPEN like a stale zone-map index — full scan with
            # the predicate applied, never a None-subscript crash
            from pyspark.sql import functions as F

            return (
                self.spark.read.parquet(self._stats_root(zone))
                .filter(F.col(key) == F.lit(value))
            )
        return bloom_point_scan(
            self.spark,
            self._stats_root(zone),
            blooms.drop("num_bits", "num_hashes"),
            key,
            value,
            num_bits=first["num_bits"],
            num_hashes=first["num_hashes"],
        )

    # -- hidden-partitioned tables (Iceberg partition-transform parity) ----
    def write_hidden(
        self, name: str, df: DataFrame, spec, mode: str = "overwrite"
    ) -> None:
        """Publish `df` as the hidden-partitioned table `name`: the
        partition transforms in `spec` (operators/partitioning.
        PartitionField tuple) derive the hive layout, and the spec is
        PERSISTED next to the data (the Iceberg table-metadata role)
        so readers recover it from the table alone — `scan_hidden`
        never asks the caller to re-declare the scheme."""
        from serverless_datalake_aws_spark.operators.partitioning import (
            clear_staged_spec,
            hidden_write,
            load_spec,
            save_spec,
            stage_spec,
        )

        if self.is_remote:
            raise NotImplementedError(
                "hidden-table spec persistence requires a local lake root"
            )
        path = f"{self.root}/hidden/{name}"
        spec = tuple(spec)
        if mode == "append":
            # an append under a DIFFERENT spec would mix layouts: old
            # directories carry the old derivation, and scans under the
            # new spec would silently prune them (Iceberg versions
            # specs for exactly this reason — here append must match)
            try:
                existing = load_spec(path)
            except FileNotFoundError:
                existing = None
            if existing is not None and existing != spec:
                raise ValueError(
                    f"hidden table {name!r} was written with spec "
                    f"{existing}; appending with a different spec "
                    f"{spec} would mix partition layouts"
                )
        from serverless_datalake_aws_spark.sources.stats import (
            list_parquet_files,
        )

        def _footer_rows() -> int:
            import pyarrow.parquet as pq

            return sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in list_parquet_files(path)
            )

        # footer-metadata count of what LANDED (before/after delta on
        # append) — never re-execute the input plan just to log lineage
        before = _footer_rows() if mode == "append" and Path(path).exists() else 0
        # stage the spec at a sibling BEFORE the data write: overwrite
        # deletes the in-dir spec with the dir, and a crash before
        # save_spec would otherwise leave an unreadable table
        stage_spec(path, spec)
        hidden_write(df, path, spec, mode=mode)
        save_spec(path, spec)
        clear_staged_spec(path)
        self._log_lineage("write_hidden", "-", path, _footer_rows() - before)

    def scan_hidden(
        self, name: str, eq: dict | None = None, between: dict | None = None
    ) -> DataFrame:
        """Read table `name` with automatic partition pruning from
        source-column predicates (`eq` / inclusive `between`); the
        persisted spec supplies the transforms, partition columns are
        injected for pruning and dropped from the result."""
        from serverless_datalake_aws_spark.operators.partitioning import (
            hidden_scan,
            load_spec,
        )

        path = f"{self.root}/hidden/{name}"
        return hidden_scan(
            self.spark, path, load_spec(path), eq=eq, between=between
        )

    # -- operational metrics (CloudWatch parity, VERDICT r6 item 4) --------
    @property
    def metrics_path(self) -> str:
        return f"{self.root}/_metrics"

    def enable_metrics(self):
        """Install session-wide query telemetry (the reference's
        CloudWatch dashboards over Lambda/Athena, deploy-script.sh:
        133-180 + aws-data-lake-terraform-main.tf:391-448): a
        QueryExecutionListener records (fingerprint, wall_ms, rows,
        shuffle_bytes, ts) for EVERY action on the session —
        engine.sql results, process() writes, search() fetches —
        buffered off the hot path and exported to the `_metrics`
        table by flush()/metrics(). Returns the recorder (for
        register_label / flush); idempotent."""
        from serverless_datalake_aws_spark.operators.metrics import (
            MetricsRecorder,
        )

        if getattr(self, "_metrics_recorder", None) is None:
            if self.is_remote:
                raise NotImplementedError(
                    "metrics export requires a local lake root in this build"
                )
            self._metrics_recorder = MetricsRecorder(
                self.spark, self.metrics_path
            ).install()
        return self._metrics_recorder

    def metrics(self) -> DataFrame:
        """The operational metrics table (flushes pending rows first).
        Empty — nothing recorded yet — is a valid dashboard answer,
        not a missing-path crash (mirrors stream_metrics)."""
        from serverless_datalake_aws_spark.operators.metrics import METRICS_SCHEMA

        rec = self.enable_metrics()
        rec.flush()
        if not Path(self.metrics_path).exists():
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        return self.spark.read.parquet(self.metrics_path)

    # -- streaming telemetry (per-micro-batch CloudWatch parity) -----------
    @property
    def stream_metrics_path(self) -> str:
        return f"{self.root}/_stream_metrics"

    def enable_stream_metrics(self):
        """Install per-micro-batch streaming telemetry: a
        StreamingQueryListener records (query, batch_id, input rows,
        rates, trigger wall, observed quality counters) for every
        progress event on the session's streams — the per-invocation
        dashboard the reference gets from CloudWatch over its trigger
        Lambdas. Pair with streaming.observability.observe_quality to
        ride per-batch rule-violation counts in the same rows. Returns
        the recorder; idempotent. `disable_stream_metrics()` detaches
        cleanly (Python streaming listeners support removeListener), and
        runs at interpreter exit: events the JVM delivers after the
        Python side is gone would each log a py4j connection error."""
        from serverless_datalake_aws_spark.streaming.observability import (
            StreamMetricsRecorder,
        )

        if getattr(self, "_stream_metrics_recorder", None) is None:
            if self.is_remote:
                raise NotImplementedError(
                    "metrics export requires a local lake root in this build"
                )
            rec = StreamMetricsRecorder(self.stream_metrics_path)
            self.spark.streams.addListener(rec)
            self._stream_metrics_recorder = rec
            atexit.register(self.disable_stream_metrics)
        return self._stream_metrics_recorder

    def disable_stream_metrics(self) -> None:
        rec = getattr(self, "_stream_metrics_recorder", None)
        if rec is None:
            return
        jsc = self.spark.sparkContext._jsc
        if jsc is not None:  # a stopped context has dropped its listeners
            # deliver what is already posted first: a callback still in
            # flight when the interpreter exits is never answered
            jsc.sc().listenerBus().waitUntilEmpty()
            self.spark.streams.removeListener(rec)
        self._stream_metrics_recorder = None
        atexit.unregister(self.disable_stream_metrics)

    def stream_metrics(self) -> DataFrame:
        """The per-batch streaming metrics table (flushes first). An
        empty table — nothing ever flushed, e.g. the async listener
        bus hasn't delivered yet — is a valid dashboard answer, not a
        missing-path crash."""
        from serverless_datalake_aws_spark.streaming.observability import (
            STREAM_METRICS_SCHEMA,
        )

        rec = self.enable_stream_metrics()
        rec.flush()
        if not Path(self.stream_metrics_path).exists():
            return self.spark.createDataFrame([], STREAM_METRICS_SCHEMA)
        return self.spark.read.parquet(self.stream_metrics_path)

    # -- lineage (beyond-reference: provenance for every lake op) ----------
    @property
    def lineage_path(self) -> str:
        return f"{self.root}/_lineage"

    def _log_lineage(self, op: str, src: str, dst: str, n_rows: int) -> None:
        """Append one provenance event — (op, src, dst, rows, ts) —
        to the `_lineage` table. Append-only, |ops| rows, never read on
        a hot path; the audit surface Glue Data Catalog + CloudTrail
        give an S3 lake, as a queryable table. Driver-side, no job."""
        at = datetime.now(timezone.utc)
        event = {"op": op, "src": src, "dst": dst, "n_rows": int(n_rows), "at": at}
        append_rows(self.spark, self.lineage_path, [event], LINEAGE_SCHEMA)

    def lineage(self) -> DataFrame:
        """The provenance event log (one row per lake operation)."""
        return self.spark.read.parquet(self.lineage_path)

    def _zone_lock(self, zone: str):
        """Inter-process exclusion for zone-directory mutation (VERDICT
        r5 item 7): dedup_zone/expire rewrite or delete under
        `{zone}/records` while process() reads raw and overwrites
        processed — unserialized, a reader can catch the swap's
        missing-directory instant and two writers can interleave an
        overwrite. One commit lock per zone (heartbeat keeps it alive
        for however long the Spark job runs); remote roots skip it —
        their analogue is Delta/Iceberg OCC, per the commitlog
        docstring. Callers acquire multiple zones in the fixed order
        raw -> processed (process()) so lock order can't deadlock."""
        from serverless_datalake_aws_spark.sources.commitlog import FileLock

        zdir = Path(self.zone(zone))
        zdir.mkdir(parents=True, exist_ok=True)
        return FileLock(zdir / ".zone.lock", ttl=120.0)

    def process(self, transform=None) -> DataFrame:
        """Zone promotion raw→processed (K5, lambda-function.py:210-234):
        read raw, stamp processed_timestamp (T1), apply the optional
        transform hook (§2.10), write processed, flip `indexed` in _meta
        and rebuild the search index (K7/K8).

        Runs under the raw + processed zone locks: the raw lock keeps a
        concurrent dedup_zone/expire from swapping the directory out
        mid-scan (the read materializes lazily, during the write), the
        processed lock keeps two promotions from interleaving one
        overwrite."""
        if self.is_remote:
            return self._process_inner(transform)
        with self._zone_lock("raw"), self._zone_lock("processed"):
            return self._process_inner(transform)

    def _process_inner(self, transform=None) -> DataFrame:
        df = self.records("raw").withColumn(
            "processed_timestamp", F.current_timestamp()
        )
        if transform is not None:
            df = transform(df)
        path = Path(f"{self.zone('processed')}/records")
        if self.is_remote:
            # object stores: no rename swap; dynamic overwrite is the
            # documented at-least-once remote mode (as elsewhere)
            df.write.mode("overwrite").partitionBy(
                "data_type", "ingest_date"
            ).parquet(str(path))
        else:
            # staged swap (the shared .dedup.tmp/.old protocol that
            # _recover_zone_swap heals): a bare in-place overwrite
            # deletes the zone at job start, so a crash mid-write — or
            # a concurrent reader — found NO processed records at all
            tmp = Path(str(path) + ".dedup.tmp")
            old = Path(str(path) + ".dedup.old")
            # heal leftovers of a previous crashed publish FIRST (we
            # hold the processed zone lock): a death between
            # tmp.rename(path) and rmtree(old) leaves path+old both
            # present, and the rename(old) below would fail ENOTEMPTY
            # forever. _recover_zone_swap itself early-returns when
            # path exists, so the writer must reclaim its own debris.
            self._recover_zone_swap_locked("processed")
            df.write.mode("overwrite").partitionBy(
                "data_type", "ingest_date"
            ).parquet(str(tmp))
            if path.exists():
                path.rename(old)
            tmp.rename(path)
            shutil.rmtree(old, ignore_errors=True)
        # pin the unindexed id set on the driver BEFORE the rebuild and
        # stamp its intersection with the documents the rebuild wrote
        # to the stats table AFTER it: rows ingested mid-rebuild stay
        # unstamped (a later pass converges them — never invisible),
        # a record with no token is not searchable and stays
        # unstamped, and previously-indexed rows keep their original
        # indexed_at. Nothing pending: the stamp runs no Spark job.
        pending = {r[0] for r in self.meta().filter(_unindexed()).select("id").collect()}
        self._rebuild_search_index()
        if pending:
            searchable = (
                self.spark.read.schema(DOC_STATS_SCHEMA)
                .parquet(self.search_stats_path)
                .join(_id_frame(self.spark, pending), "id", "left_semi")
                .select("id", "data_type")
                .collect()
            )
            if searchable:
                self._mark_indexed(
                    {r[0] for r in searchable}, sorted({r[1] for r in searchable})
                )
        out = self.records("processed")
        self._log_lineage(
            "promote", self.zone("raw"), self.zone("processed"), -1
        )
        return out

    def curate(self) -> DataFrame:
        """Gold-zone rollup (the curated/ zone the reference creates at
        deploy-script.sh:22-24 but never populates): per-(data_type,
        ingest_date) record counts and byte totals from processed/ —
        the dashboard-feeding aggregate, partitioned for pruning.

        Coexists with curate_incremental: the full-dir overwrite would
        otherwise wipe the stream's `_absorbed_epoch` idempotence
        marker, and a later redelivery of an already-absorbed epoch
        would double-count into the rebuilt summary — the marker is
        preserved across the rewrite. (The converse race — changelog
        rows already counted by this rebuild arriving as a FUTURE
        stream epoch — is inherent to mixing a full rebuild with a
        LIVE incremental stream. The safe workflow is to restart the
        stream from a fresh checkpoint after a manual rebuild: the
        fresh lineage replays the whole changelog and its first absorb
        REPLACES this summary instead of merging on top of it, so the
        restart converges instead of double-counting.)"""
        out = f"{self.zone('curated')}/daily_summary"
        gold = (
            self.records("processed")
            # partition-value inference reads ingest_date back as DATE;
            # pin the summary contract to the ISO string the ingest
            # wrote (and that curate_incremental derives from the feed)
            .groupBy(
                "data_type", F.col("ingest_date").cast("string").alias("ingest_date")
            )
            .agg(
                F.count("*").alias("n_records"),
                F.sum(F.octet_length("payload")).alias("total_bytes"),
            )
        )
        if self.is_remote:
            # object stores: no rename swap, no marker protocol —
            # plain overwrite (at-least-once, as elsewhere)
            gold.write.mode("overwrite").partitionBy("data_type").parquet(out)
            return self.spark.read.parquet(out)
        # staged swap: the old in-place overwrite deleted the summary
        # dir — and the stream's _absorbed_epoch marker WITH it — at
        # job start, so a crash before the marker restore left a
        # marker-less summary that the continuing incremental lineage
        # would then replace with one delta (reset-to-one-delta loss).
        # Staging under the SAME .curate.tmp name curate_incremental's
        # entry recovery already rolls forward keeps every crash point
        # healable: the marker is copied into the stage before publish.
        out_dir = Path(out)
        marker = out_dir / "_absorbed_epoch"
        saved_marker = marker.read_text() if marker.exists() else None
        tmp = Path(out + ".curate.tmp")
        if tmp.exists():
            shutil.rmtree(tmp)  # stale stage from a pre-publish crash
        gold.write.mode("overwrite").partitionBy("data_type").parquet(str(tmp))
        if saved_marker is not None:
            (tmp / "_absorbed_epoch").write_text(saved_marker)
        if out_dir.exists():
            shutil.rmtree(out_dir)
        shutil.move(str(tmp), out)
        return self.spark.read.parquet(out)

    def curate_incremental(
        self, timeout_s: int = 600, trigger: dict | None = None
    ):
        """Incremental gold-zone maintenance: fold ONLY the new
        change-feed rows into the curated daily summary instead of
        re-aggregating the record store (curate() rescans processed/;
        at 100 TB that rescan is the cost this method deletes).

        Same checkpointed-changelog pattern as index_cdc but with its
        own checkpoint — independent consumers of one change feed. The
        curated table itself is small (types × days), so the merged
        result is rewritten wholesale via tmp+swap; the scale win is
        that the INPUT per batch is the change set, never the lake.

        `trigger` defaults to availableNow (drain, return the summary
        DataFrame). `{"processingTime": "1 second"}` runs ALWAYS-ON:
        the summary keeps absorbing as ingests land; returns the
        StreamingQuery (caller owns stop())."""
        out = f"{self.zone('curated')}/daily_summary"
        # crash recovery: the swap is rmtree(out) → move(tmp, out). A
        # death between the two leaves out missing and the COMPLETE
        # merged copy (its _absorbed_epoch marker is written last) in
        # tmp — finish the move; without this, the next batch's read
        # of `out` looks like "first batch" and resets all history.
        _tmp = Path(out + ".curate.tmp")
        if not Path(out).exists() and (_tmp / "_absorbed_epoch").exists():
            shutil.move(str(_tmp), out)
        stream = self.spark.readStream.schema(META_SCHEMA).parquet(
            self.changelog_path
        )

        ckpt = f"{self.root}/_checkpoints/curate"

        def _ckpt_id() -> str:
            import json as _json

            try:
                return _json.loads(
                    (Path(ckpt) / "metadata").read_text()
                ).get("id", "")
            except (OSError, ValueError):
                return ""

        def _merge(batch_df: DataFrame, epoch_id: int) -> None:
            # foreachBatch side effects are at-least-once: a batch
            # retry re-invokes _merge with the same epoch_id. The
            # absorbed high-water mark rides INSIDE the summary dir
            # (underscore-prefixed, so Spark readers ignore it) and is
            # swapped atomically with the data, so replaying an
            # absorbed epoch is a no-op instead of a double count.
            # The marker also records the CHECKPOINT's query id: epoch
            # ids restart at 0 under a fresh checkpoint (the restart
            # curate()'s docstring prescribes), and comparing epochs
            # across lineages would silently drop the first marker+1
            # batches of genuinely new data.
            marker = Path(out) / "_absorbed_epoch"
            qid = _ckpt_id()
            # A lineage is "continuing" only when the marker carries
            # THIS checkpoint's query id. Under a FRESH checkpoint the
            # source replays the ENTIRE (append-only, never-pruned)
            # changelog from offset 0, so the first absorb of a new
            # lineage must REPLACE the summary rather than merge on
            # top of it — merging would double-count all history
            # (e.g. the curate()-rebuild-then-restart workflow the
            # curate() docstring prescribes). Same rule when a summary
            # exists with NO marker (only curate() publishes without
            # one): the replay re-delivers everything it counted.
            same_lineage = self.is_remote  # marker protocol is local-only:
            # the remote branch keeps its documented at-least-once
            # merge-always behavior (no marker to detect lineage with)
            if marker.exists():
                parts = marker.read_text().split()
                m_epoch = int(parts[-1])
                m_qid = parts[0] if len(parts) > 1 else qid  # legacy
                if m_qid == qid:
                    if epoch_id <= m_epoch:
                        return
                    same_lineage = True
            delta = batch_df.groupBy(
                "data_type",
                # the record's PARTITION date (from the location the
                # changelog row names), not the event timestamp's day:
                # a requeued record lands under its ORIGINAL
                # ingest_date, and curate()'s full rebuild buckets by
                # partition — the two paths must agree
                F.coalesce(
                    F.nullif(
                        F.regexp_extract(
                            "location", r"ingest_date=([0-9\-]+)", 1
                        ),
                        F.lit(""),
                    ),
                    F.date_format("timestamp", "yyyy-MM-dd"),
                ).alias("ingest_date"),
            ).agg(
                F.count("*").alias("n_records"),
                F.sum("size_bytes").alias("total_bytes"),
            )
            try:
                cur = self.spark.read.parquet(out)
            except AnalysisException as e:
                # first batch ONLY when the summary has never been
                # published; any other failure (corrupt footer,
                # permission, transient IO) must propagate — swallowing
                # it would reset the accumulated summary to one delta
                # (the ADVICE r4 MaintainedRollup bug, same pattern)
                if not is_missing_path(e):
                    raise
                cur = None
            if cur is None or not same_lineage:
                # new lineage (or first publish): the replayed
                # changelog IS the history — start from this delta
                merged = delta
            else:
                merged = (
                    cur.unionByName(delta)
                    .groupBy("data_type", "ingest_date")
                    .agg(
                        F.sum("n_records").alias("n_records"),
                        F.sum("total_bytes").alias("total_bytes"),
                    )
                )
            merged = merged.select(
                "data_type", "ingest_date", "n_records", "total_bytes"
            )
            if self.is_remote:
                # no atomic dir swap on object stores: exactly-once
                # there routes through sources/versioning.py's
                # versioned publish; the plain dynamic overwrite is
                # at-least-once under batch retry (documented)
                merged.write.mode("overwrite").partitionBy("data_type").option(
                    "partitionOverwriteMode", "dynamic"
                ).parquet(out)
                return
            tmp = out + ".curate.tmp"
            merged.write.mode("overwrite").partitionBy("data_type").parquet(tmp)
            (Path(tmp) / "_absorbed_epoch").write_text(f"{qid} {epoch_id}")
            if Path(out).exists():
                shutil.rmtree(out)
            shutil.move(tmp, out)

        if trigger is None:
            trigger = {"availableNow": True}
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", f"{self.root}/_checkpoints/curate")
            .trigger(**trigger)
            .start()
        )
        if "availableNow" in trigger:
            drain(q, timeout_s)
            return self.spark.read.parquet(out)
        return q  # always-on: caller owns stop(); summary keeps updating

    def process_stream(self, transform=None) -> None:
        """Streaming zone promotion (S10): checkpointed file-arrival
        stream over raw/records → processed/records. The streaming twin
        of `process()`; drains available files and stops
        (Trigger.AvailableNow), exactly-once per file."""
        from serverless_datalake_aws_spark.streaming.pipeline import stream_promote

        raw = f"{self.zone('raw')}/records"
        schema = self.spark.read.parquet(raw).schema
        q = stream_promote(
            self.spark,
            raw,
            f"{self.zone('processed')}/records_stream",
            f"{self.root}/_checkpoints/promote",
            schema,
            fmt="parquet",
            transform=transform,
        )
        drain(q, 600)

    def lake_report(self) -> DataFrame:
        """Lake-wide health summary — the ops view the reference's
        dashboard renders (deploy-script.sh:   dashboard section), as a
        queryable DataFrame: one row per zone with file count, bytes,
        and partition count, plus one row per `_meta` status with its
        record count and indexed tally. Driver-side directory walk is
        metadata-only (an S3 LIST per prefix at scale; the inventory-
        report route past ~10^8 objects is documented in SCALE.md)."""
        if self.is_remote:
            # fail-closed like every other local-FS-walking op: the
            # pathlib walk answers 0 files for every URI, so a populated
            # S3 lake would silently report as EMPTY
            raise NotImplementedError(
                "lake_report() walks local directories; object stores "
                "route through LIST/inventory (documented in SCALE.md)"
            )
        rows = []
        for z in self.ZONES:
            # heal a crashed dedup/optimize swap first, like every other
            # zone reader — otherwise a zone whose records dir is hidden
            # in .dedup.tmp/.old siblings reports as 0 files / 0 bytes
            # (data-loss panic on the ops dashboard) until some other
            # code path happens to recover it
            self._recover_zone_swap(z)
            root = Path(self.zone(z)) / "records"
            files = list(root.rglob("*.parquet")) if root.exists() else []
            parts = {f.parent for f in files}
            rows.append(
                ("zone", z, len(files), sum(f.stat().st_size for f in files), len(parts))
            )
        # columns: extra = partition count for zones, indexed tally for meta
        report = self.spark.createDataFrame(
            rows, "kind string, name string, n_items long, bytes long, extra long"
        )
        try:
            meta = self.meta()
        except AnalysisException as e:
            if is_missing_path(e):
                return report  # pre-ingest lake: zone rows only
            raise
        status = meta.groupBy(F.col("status").alias("name")).agg(
            F.count("*").alias("n_items"),
            F.sum("size_bytes").alias("bytes"),
            F.sum(F.coalesce("indexed", F.lit(False)).cast("long")).alias("extra"),
        ).withColumn("kind", F.lit("meta_status"))
        return report.unionByName(
            status.select("kind", "name", "n_items", "bytes", "extra")
        )

    def optimize_zone(
        self,
        zone: str = "raw",
        zorder_by: tuple[str, ...] | None = None,
        target_file_mb: int = 128,
        bits: int = 10,
        analyze: bool = True,
        num_files: int | None = None,
    ) -> dict:
        """Delta's OPTIMIZE [ZORDER BY ...] for a zone's records:
        bin-pack small files to ~target size and, with `zorder_by`,
        cluster rows on the Morton z-value of those columns so the
        footer zone maps (analyze → scan_pruned) turn selective
        predicates into file skips. Hive partitioning is PRESERVED —
        the range exchange keys on (partition cols, z-value) so each
        task lands in one partition dir writing a contiguous z-range.
        Streaming ingest + this maintenance op is the reference's
        small-file story inverted: its per-record S3 objects
        (lambda-function.py:210-234) are the #1 100 TB scaling flaw
        (SURVEY §4.3); here the lake heals its own layout.

        Publishes through the same staged rename swap + per-zone lock
        + crash recovery as dedup_zone (the `.dedup.tmp/.old` staging
        names are the shared zone-rewrite protocol — recovery at every
        records() read rolls an interrupted optimize forward or back
        identically). Returns {rows, files_before, files_after}."""
        from serverless_datalake_aws_spark.sources.stats import (
            list_parquet_files,
        )

        if self.is_remote:
            raise NotImplementedError(
                "optimize_zone() swaps local zone directories via rename; "
                "object stores need Delta/Iceberg OPTIMIZE or copy + "
                "prefix flip — matching dedup_zone()"
            )
        with self._zone_lock(zone):
            self._recover_zone_swap_locked(zone)
            path = Path(f"{self.zone(zone)}/records")
            if not path.exists():
                return {"rows": 0, "files_before": 0, "files_after": 0}
            files_before = list_parquet_files(path)
            total = sum(Path(f).stat().st_size for f in files_before)
            n_files = num_files or max(
                1, round(total / (target_file_mb * 1024 * 1024))
            )
            df = self.spark.read.parquet(str(path))
            part_cols = [
                c for c in ("data_type", "ingest_date") if c in df.columns
            ]
            tmp = Path(str(path) + ".dedup.tmp")
            old = Path(str(path) + ".dedup.old")
            if zorder_by:
                from serverless_datalake_aws_spark.operators.layout import (
                    attach_zvalue,
                )

                out = (
                    attach_zvalue(df, tuple(zorder_by), bits=bits)
                    .repartitionByRange(n_files, *part_cols, "_zv")
                    .sortWithinPartitions(*part_cols, "_zv")
                    .drop("_zv")
                )
            else:
                out = df.repartitionByRange(n_files, *part_cols) if part_cols else df.coalesce(n_files)
            writer = out.write.mode("overwrite")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(str(tmp))
            # row count from the staged output's footers — the rewrite
            # already read every row once; a df.count() here would scan
            # the zone a second time while holding the zone lock
            import pyarrow.parquet as pq

            rows = sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in list_parquet_files(tmp)
            )
            path.rename(old)  # hide current (atomic)
            tmp.rename(path)  # publish staged (atomic)
            shutil.rmtree(old)  # reclaim — recoverable if we die first
            self._log_lineage("optimize", str(path), str(path), rows)
        if analyze:
            self.analyze(zone)
        return {
            "rows": rows,
            "files_before": len(files_before),
            "files_after": len(list_parquet_files(path)),
        }

    def maintain(
        self,
        zones: tuple[str, ...] = ("raw", "processed", "curated"),
        small_file_mb: float = 8.0,
        min_files_to_compact: int = 16,
        target_file_mb: int = 128,
        versioned_keep: int | None = None,
    ) -> dict:
        """The lake's self-maintenance loop — Databricks auto-OPTIMIZE /
        Iceberg maintenance-procedures parity, composed from the
        engine's own primitives. One call, policy-driven, idempotent:

        1. COMPACT any zone whose records have degraded into the
           streaming small-file shape (> `min_files_to_compact` files
           AND mean file size < `small_file_mb` MB) via optimize_zone
           (preserves hive partitioning, staged-swap + lock + crash
           recovery). A healthy zone is left untouched — re-running
           maintain() does nothing until ingest degrades layout again.
        2. REFRESH each zone's file-stats index when it is STALE: the
           indexed file set no longer equals the zone's current files
           (compaction above, dedup_zone, expire, or plain ingest all
           invalidate it). Fresh indexes keep scan_pruned honest;
           stats.py's fail-open contract covers the window in between.
        3. VACUUM noncurrent versions of every versioned table when
           `versioned_keep` is given (lifecycle
           noncurrent_version_expiration, engine.py vacuum_versioned).

        The reference has no such loop — its per-record S3 objects
        accumulate forever (SURVEY §4.3 flaw #1) and Athena rescans
        them every query. Returns a report dict:
        {zone: {files_before, files_after}} for compactions,
        {zone: n_files} for stats refreshes, {table: [versions]} for
        vacuums. Scale: the scan of zone layouts is pure metadata;
        each compaction is one distributed rewrite of one zone."""
        import pyarrow.parquet as pq

        from serverless_datalake_aws_spark.sources.stats import (
            list_parquet_files,
        )

        if self.is_remote:
            raise NotImplementedError(
                "maintain() composes local-FS zone swaps (optimize_zone) "
                "and footer walks (analyze); object stores need the "
                "store-native OPTIMIZE/expire procedures"
            )
        report: dict = {"compacted": {}, "stats_refreshed": {}, "vacuumed": {}}
        for zone in zones:
            path = Path(f"{self.zone(zone)}/records")
            if not path.exists():
                continue
            files = list_parquet_files(path)
            if files:
                total_mb = sum(Path(f).stat().st_size for f in files) / 2**20
                if (
                    len(files) > min_files_to_compact
                    and total_mb / len(files) < small_file_mb
                ):
                    r = self.optimize_zone(
                        zone, target_file_mb=target_file_mb, analyze=False
                    )
                    report["compacted"][zone] = {
                        "files_before": r["files_before"],
                        "files_after": r["files_after"],
                    }
            # stats staleness: indexed file set != current file set,
            # read from the index's `file` column on the driver
            stats_dir = Path(self.stats_path) / zone
            if stats_dir.exists():
                indexed = {
                    f
                    for p in list_parquet_files(stats_dir)
                    for f in pq.ParquetFile(p).read(columns=["file"])["file"].to_pylist()
                }
                current = set(list_parquet_files(self._stats_root(zone)))
                if indexed != current:
                    report["stats_refreshed"][zone] = self.analyze(zone)
        if versioned_keep is not None:
            vroot = Path(self.root) / "versioned"
            if vroot.exists():
                for tdir in sorted(p for p in vroot.iterdir() if p.is_dir()):
                    gone = self.vacuum_versioned(tdir.name, keep=versioned_keep)
                    if gone:
                        report["vacuumed"][tdir.name] = gone
        # telemetry feeds accumulate one small file per flush — compact
        # them under the same policy (they are plain parquet tables).
        # The feed's FileLock serializes against concurrent flush_rows
        # writes (an unlocked flush landing between compact's rmtree
        # and rename would be silently deleted), and an orphaned
        # .compact.tmp from a crash mid-swap is rolled forward first.
        from serverless_datalake_aws_spark.sources.commitlog import FileLock
        from serverless_datalake_aws_spark.sources.writers import compact

        for feed in (self.metrics_path, self.stream_metrics_path):
            fdir = Path(feed)
            tmp = Path(str(fdir) + ".compact.tmp")
            old = Path(str(fdir) + ".compact.old")
            with FileLock(str(fdir) + ".lock", ttl=60.0):
                # heal compact()'s rename swap. `old` present means a
                # swap was in flight; whether it FINISHED is decided by
                # the _COMPACT_DONE flag that rides inside the stage:
                #  - fdir carries the flag → publish completed, old is
                #    a pre-compact duplicate → delete it
                #  - fdir absent or flag-less (a post-crash flush
                #    recreated it with only new rows) → old is the one
                #    full history → fold the new flush files into old
                #    and republish it; losing only the compaction
                if old.exists():
                    if fdir.exists() and (fdir / "_COMPACT_DONE").exists():
                        shutil.rmtree(old)
                    else:
                        if fdir.exists():
                            for f in fdir.iterdir():
                                if not f.name.startswith(("_", ".")):
                                    f.rename(old / f.name)
                            shutil.rmtree(fdir)
                        old.rename(fdir)
                shutil.rmtree(tmp, ignore_errors=True)  # stage duplicate
                if not fdir.exists():
                    continue
                files = list_parquet_files(fdir)
                if len(files) > min_files_to_compact:
                    n_after = compact(self.spark, fdir)
                    report.setdefault("feeds_compacted", {})[fdir.name] = {
                        "files_before": len(files),
                        "files_after": n_after,
                    }
        return report

    def dedup_zone(self, zone: str = "raw") -> int:
        """Exact payload deduplication for a zone's records: within each
        data_type keep the first-ingested copy of every distinct
        payload (md5 identity, d01/d07 semantics at the engine level —
        the reference happily ingests byte-identical records forever).
        Rewrites only when duplicates exist; returns the number of
        dropped rows. The rewrite is partition-preserving and goes
        through a staged swap like compact().

        Crash safety: the swap is rename→rename→delete (hide old,
        publish staged, reclaim), and an interrupted previous swap is
        rolled forward/back at entry from the `.dedup.tmp` /
        `.dedup.old` staging dirs — the zone is never left without a
        records directory. Remote roots are rejected up front (rename
        swaps don't exist on object stores; the upgrade is
        Delta/Iceberg MERGE or a copy+prefix-flip job)."""
        from pyspark.sql import Window as W

        if self.is_remote:
            raise NotImplementedError(
                "dedup_zone() swaps local zone directories via rename; "
                "object stores need Delta/Iceberg MERGE (or copy + "
                "prefix flip) — matching expire()/export_training_shards()"
            )
        with self._zone_lock(zone):
            path = f"{self.zone(zone)}/records"
            tmp, old = Path(path + ".dedup.tmp"), Path(path + ".dedup.old")
            self._recover_zone_swap_locked(zone)
            df = self.spark.read.parquet(path)
            # keeper = FIRST-INGESTED copy: order by the partition date
            # before the uuid (ids carry no temporal order — a bare
            # orderBy('id') kept an arbitrary copy, ~50% of the time
            # moving the row to the LATER ingest_date partition and
            # skewing retention/per-day summaries)
            w = W.partitionBy("data_type", F.md5("payload")).orderBy(
                F.col("ingest_date").cast("string"), "id"
            )
            deduped = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            before = df.count()
            after = deduped.count()
            if after == before:
                return 0
            deduped.write.mode("overwrite").partitionBy(
                "data_type", "ingest_date"
            ).parquet(str(tmp))
            Path(path).rename(old)  # hide current (atomic)
            tmp.rename(path)  # publish staged (atomic)
            shutil.rmtree(old)  # reclaim — recoverable if we die before this
            self._log_lineage("dedup", path, path, before - after)
            return before - after

    def expire(
        self,
        zone: str = "raw",
        keep_days: int = 365,
        today: str | None = None,
    ) -> list[str]:
        """Retention enforcement: drop `ingest_date=` partitions older
        than `keep_days` from a zone's records — the lifecycle-
        expiration rule an S3 lake declares in bucket config, as an
        explicit maintenance op (partition drop = one directory delete
        per expired day; no data rewrite). `today` pins the clock for
        reproducible jobs; defaults to the current UTC date. Returns
        the dropped partition dates.

        Note: `_meta` rows for expired records are kept (the audit
        trail outlives the payload, like an S3 inventory of expired
        keys); `status` queries can LEFT ANTI join against the zone to
        spot payload-less metadata."""
        import shutil
        from datetime import date, timedelta

        if self.is_remote:
            raise NotImplementedError(
                "expire() walks local partitions in this build; object "
                "stores declare the same rule as bucket lifecycle config"
            )
        anchor = (
            date.fromisoformat(today)
            if today
            else datetime.now(timezone.utc).date()
        )
        cutoff = anchor - timedelta(days=keep_days)
        root = Path(self.zone(zone)) / "records"
        dropped: list[str] = []
        # zone lock: a concurrent dedup_zone swap would re-create the
        # partitions this loop just deleted (from its pre-delete
        # snapshot), silently undoing retention
        with self._zone_lock(zone):
            # heal a crashed swap FIRST: with records/ hidden mid-swap
            # the glob below finds nothing, retention silently skips,
            # and the staged copy later resurfaces the expired
            # partitions intact
            self._recover_zone_swap_locked(zone)
            for type_dir in sorted(root.glob("data_type=*")):
                for part in sorted(type_dir.glob("ingest_date=*")):
                    day = part.name.split("=", 1)[1]
                    try:
                        if date.fromisoformat(day) < cutoff:
                            shutil.rmtree(part)
                            dropped.append(day)
                    except ValueError:
                        continue  # foreign non-date partition value: keep
        return sorted(set(dropped))

    def export_training_shards(
        self,
        zone: str = "processed",
        subpath: str = "export/shards",
        target_shard_mb: int = 256,
        shuffle_seed: int | None = 0,
        transform=None,
    ) -> dict:
        """Export a zone's records as evenly-sized, globally-shuffled
        training shards + manifest (sources/writers.write_training_
        shards) — the gold-zone exit toward an LLM dataloader. The
        reference has no export surface (consumers re-read raw S3
        objects); this closes the loop: ingest → promote → curate →
        export. `transform` filters/projects before sharding (the
        final curation gate)."""
        from serverless_datalake_aws_spark.sources.writers import (
            write_training_shards,
        )

        if self.is_remote:
            # manifest assembly walks local files; the object-store port
            # lists the prefix instead (documented in SCALE.md)
            raise NotImplementedError(
                "shard export requires a local lake root in this build"
            )
        df = self.records(zone)
        if transform is not None:
            df = transform(df)
        manifest = write_training_shards(
            self.spark,
            df,
            f"{self.root}/{subpath}",
            target_shard_mb=target_shard_mb,
            shuffle_seed=shuffle_seed,
        )
        self._log_lineage(
            "export", self.zone(zone), f"{self.root}/{subpath}",
            manifest["total_rows"],
        )
        return manifest

    def export_split_shards(
        self,
        zone: str = "processed",
        subpath: str = "export/splits",
        group_col: str = "id",
        fractions: tuple[float, float, float] = (0.8, 0.1, 0.1),
        target_shard_mb: int = 256,
        shuffle_seed: int | None = 0,
        transform=None,
    ) -> dict:
        """Shard export with a leakage-safe train/val/test split — the
        d17 assignment wired into the gold-zone exit: every record is
        routed by a deterministic md5 hash of `group_col`, so (a) the
        split is reproducible run-over-run and engine-over-engine, and
        (b) all records sharing a group land in the SAME split. Pass a
        near-dup cluster id (d08/d17) or a domain/source key as
        `group_col` to guarantee no near-duplicate — or same-site —
        pair straddles train and eval; the default (`id`) is a plain
        record-level split. Writes `<subpath>/<split>/` shard sets,
        each with its own manifest (write_training_shards), and
        lineage-logs each split.

        Scale: the split column is one row-local hash; each split's
        write is the usual single-exchange shard job over its subset —
        no extra shuffles versus three plain exports."""
        from serverless_datalake_aws_spark.sources.writers import (
            write_training_shards,
        )

        if self.is_remote:
            raise NotImplementedError(
                "shard export requires a local lake root in this build"
            )
        if (
            len(fractions) != 3
            or abs(sum(fractions) - 1.0) > 1e-9
            or any(f < 0 for f in fractions)
        ):
            raise ValueError(
                f"fractions must be 3 non-negative values summing to 1: {fractions}"
            )
        df = self.records(zone)
        if transform is not None:
            df = transform(df)
        t_train = int(round(fractions[0] * 100))
        t_val = t_train + int(round(fractions[1] * 100))
        # NULL group keys fall back to the record id (the d17
        # coalesce convention) — otherwise md5(NULL) is NULL and every
        # unkeyed record would silently land in 'test'
        gkey = F.coalesce(
            F.col(group_col).cast("string"), F.col("id").cast("string")
        )
        h = (
            F.conv(F.substring(F.md5(gkey), 1, 14), 16, 10).cast("long")
            % 100
        )
        split_col = (
            F.when(h < t_train, "train").when(h < t_val, "val").otherwise("test")
        )
        df = df.withColumn("_split", split_col).persist()
        try:
            manifests: dict[str, dict] = {}
            for split in ("train", "val", "test"):
                part = df.filter(F.col("_split") == split).drop("_split")
                dest = f"{self.root}/{subpath}/{split}"
                manifests[split] = write_training_shards(
                    self.spark,
                    part,
                    dest,
                    target_shard_mb=target_shard_mb,
                    shuffle_seed=shuffle_seed,
                )
                self._log_lineage(
                    "export", self.zone(zone), dest, manifests[split]["total_rows"]
                )
            return manifests
        finally:
            df.unpersist()

    def _mark_indexed(
        self,
        ids: DataFrame | Iterable[str] | None = None,
        data_types: list[str] | None = None,
    ) -> None:
        """Metadata upsert (K7): stamp indexed=true for exactly the ids
        just indexed — same last-writer-wins semantics as the reference's
        per-attribute DynamoDB updates (index-data-lambda.py:165-172).

        Scale contract: only the data_type partitions containing those
        ids are rewritten (the rest of _meta is untouched on disk), and
        the rewrite goes to a tmp dir first, then swaps — the source is
        never deleted while a task could still be reading it. `ids` is an
        id frame, or the distinct ids themselves when the caller holds
        them driver-side. With no `ids`, all currently-unindexed rows are
        stamped. `data_types`, when the caller knows them, are the
        partitions to rewrite; otherwise they are collected from the
        ids' `_meta` rows.

        Multi-writer safety (round 5): the whole read-compute-swap runs
        under an exclusive commit lock (sources/commitlog.FileLock), so
        a concurrent marker re-reads _meta AFTER this publish instead of
        from a stale snapshot — two writers stamping disjoint ids both
        land (the lost-update test in tests/test_concurrency.py). The
        object-store/remote branch keeps dynamic-partition-overwrite and
        documents S3 conditional-PUT / Delta OCC as its lock analogue."""
        if self.is_remote:
            self._mark_indexed_inner(ids, data_types)
            return
        from serverless_datalake_aws_spark.sources.commitlog import FileLock

        with FileLock(self.meta_path + ".lock") as lk:
            self._mark_indexed_inner(ids, data_types, lock=lk)

    def _mark_indexed_inner(
        self,
        ids: DataFrame | Iterable[str] | None,
        data_types: list[str] | None,
        lock=None,
    ) -> None:
        meta = self.meta()
        if ids is None:
            ids = meta.filter(_unindexed()).select("id")
        # pinned with the stamp time as data: the set a broadcast would
        # ship to the driver anyway, so the warm stamp reuses its code
        if isinstance(ids, DataFrame):
            ids = {r[0] for r in ids.select("id").collect()}
        if not ids:
            return
        hit_ids = _id_frame(self.spark, ids, at=datetime.now(timezone.utc))
        affected = data_types
        if affected is None:
            affected = [
                r[0]
                for r in meta.join(hit_ids, "id", "left_semi")
                .select("data_type")
                .distinct()
                .collect()
            ]
        if not affected:
            return
        stamped = (
            meta.filter(F.col("data_type").isin(affected))
            .join(hit_ids, "id", "left")
            .withColumn(
                "indexed",
                F.when(F.col("_at").isNotNull(), F.lit(True)).otherwise(
                    F.col("indexed")
                ),
            )
            .withColumn("indexed_at", F.coalesce("_at", "indexed_at"))
            .drop("_at")
        )
        if self.is_remote:
            # Object stores: dynamic partition overwrite replaces only
            # the partitions present in `stamped`; the committer stages
            # files before the atomic-ish per-partition replace. The
            # strict-isolation upgrade at scale is Delta/Iceberg MERGE.
            stamped.write.mode("overwrite").partitionBy("data_type").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(self.meta_path)
            return
        tmp = self.meta_path + ".mark.tmp"
        stamped.write.mode("overwrite").partitionBy("data_type").parquet(tmp)
        # Crash-safe swap: the staged write is published only after the
        # _SWAP_READY flag lands, and each partition moves via two
        # same-filesystem renames (dst → dst.old, src → dst) — a reader
        # never observes a half-written partition, and _recover_meta_swap
        # (run before every meta() scan) rolls an interrupted swap
        # forward (flag present) or back (flag absent), so visible state
        # per partition is always entirely-old or entirely-new. This is
        # the local-FS analogue of the reference's atomic per-row
        # DynamoDB update (index-data-lambda.py:165-172) at partition
        # granularity; on object stores the dynamic-overwrite committer
        # branch above owns the same contract.
        # Last-line-of-defence ownership re-check (commitlog docstring):
        # if a >ttl stall let a contender steal the lock, abort before
        # publishing rather than race the new owner's rewrite.
        if lock is not None and not lock.still_held():
            raise RuntimeError(
                "commit lock lost during _meta rewrite; aborting publish "
                f"(staged rewrite left at {tmp})"
            )
        (Path(tmp) / _SWAP_READY).touch()
        self._publish_meta_swap(Path(tmp))

    def _publish_meta_swap(self, tmp: Path) -> None:
        """Publish a flag-complete staged `_meta` rewrite (K7 commit
        step). Also the roll-forward half of crash recovery."""
        # `old` names are UNDERSCORE-prefixed: Spark's partition
        # discovery skips _/. entries, so a reader planning while this
        # publish is between renames can never double-read a partition
        # as the phantom value "X.old". (The converse window — the
        # partition briefly absent between dst.rename(old) and
        # src.rename(dst) — remains: it is two metadata renames wide;
        # readers needing strict isolation take the commit lock.)
        for src in sorted(tmp.glob("data_type=*")):
            dst = Path(self.meta_path) / src.name
            old = Path(self.meta_path) / ("_old." + src.name)
            if not old.exists() and dst.exists():
                dst.rename(old)
            if not dst.exists():
                src.rename(dst)
            if old.exists():
                shutil.rmtree(old)
        # A crash between `src.rename(dst)` and `rmtree(old)` strands an
        # _old dir whose stage entry is gone.
        self._settle_meta_swap(tmp)

    def _settle_meta_swap(self, tmp: Path) -> None:
        """Drop the stage and settle every hidden `_old.` partition:
        reclaim it when its live partition exists (that partition's swap
        finished), rename it back otherwise. The tail of a publish and
        the whole roll-back. (A live `data_type=X.old` is a data_type
        value like any other, never swap debris.)"""
        meta = Path(self.meta_path)
        for old in meta.glob("_old.data_type=*"):
            dst = old.with_name(old.name[len("_old."):])
            if dst.exists():
                shutil.rmtree(old)
            else:
                old.rename(dst)
        shutil.rmtree(tmp, ignore_errors=True)

    def _recover_meta_swap(self) -> None:
        """Converge `_meta` after a writer died mid-_mark_indexed: roll
        the staged swap forward when its _SWAP_READY flag committed,
        roll it back (restore any `_old.` partition, drop the stage)
        otherwise. Idempotent and cheap (one glob) — runs before every
        metadata scan."""
        from serverless_datalake_aws_spark.sources.commitlog import FileLock

        if FileLock(self.meta_path + ".lock").held_elsewhere():
            # A LIVE writer owns the stage: rolling its uncommitted tmp
            # back now would destroy work in flight. Before the
            # _SWAP_READY flag lands the visible _meta is untouched; a
            # committed publish in flight exposes only the two-rename
            # gap per partition (the _old prefix keeps discovery from
            # double-reading it) — readers needing strict isolation
            # take the commit lock. Crash leftovers are reclaimed once
            # the dead owner's lock goes stale.
            return
        tmp = Path(self.meta_path + ".mark.tmp")
        if (tmp / _SWAP_READY).exists():
            self._publish_meta_swap(tmp)
        else:
            # no committed stage: anything half-swapped rolls back
            self._settle_meta_swap(tmp)

    # -- search surface (SURVEY §2.8) ----------------------------------------
    def _tokenize(self, recs: DataFrame) -> DataFrame:
        """Postings of `recs` (INDEX_SCHEMA's columns): `dl` is the size
        of the record's token list and `tf` counts each token in it, so
        for a record id held once in raw, `dl` = Σtf."""
        # `dl` is taken before the explode, so the exploded rows carry
        # a long instead of a copy of the whole token array each
        return (
            recs.select("data_type", "id", _tokens(F.col("payload")).alias("tokens"))
            .withColumn("dl", F.size("tokens").cast("long"))
            .select("data_type", "id", "dl", F.explode("tokens").alias("token"))
            .groupBy("data_type", "id", "token")
            .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
        )

    def _rebuild_search_index(self) -> None:
        """Reindex-all (X7, index-data-lambda.py:317-388): one
        explode+aggregate replaces the scan→loop→HTTP-bulk pipeline.
        Rewrites the postings and the BM25 document statistics from one
        listing of raw, both partitioned by data_type (the analogue of
        index-per-dataset naming, X2).

        The stats table is deleted first and published last, by a
        rename of its complete staged copy, so it exists only when it
        matches the postings: a reindex that dies part-way leaves no
        stats table, and the next BM25 search runs this again
        (`_ensure_doc_stats`)."""
        self._recover_zone_swap("raw")
        raw = self.spark.read.schema(RECORD_SCHEMA).parquet(
            f"{self.zone('raw')}/records"
        )
        staged = self.search_stats_path + ".tmp"
        fs, stats = self._fs_path(self.search_stats_path)
        fs.delete(stats, True)
        self._tokenize(raw).write.mode("overwrite").partitionBy("data_type").parquet(
            self.search_index_path
        )
        raw.select(
            "data_type", "id", F.size(_tokens(F.col("payload"))).cast("long").alias("dl")
        ).filter(F.col("dl") > 0).write.mode("overwrite").partitionBy(
            "data_type"
        ).parquet(staged)
        # again: a first index append running beside this reindex may
        # have created the directory, and a rename onto an existing
        # directory would nest the stage inside it
        fs.delete(stats, True)
        fs.rename(self._fs_path(staged)[1], stats)

    def _fs_path(self, path: str):
        """(Hadoop FileSystem, Path) of a lake path, local or remote."""
        hp = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return hp.getFileSystem(self.spark._jsc.hadoopConfiguration()), hp

    def _read_partitions(
        self, base: str, schema: T.StructType, parts: set[tuple]
    ) -> DataFrame | None:
        """Read only the partition directories `parts` (tuples of
        (column, value) pairs) of the table at `base` — a listing that
        grows with the caller's batch, not with the table. Missing
        directories are skipped; None when none exists."""
        dirs = []
        for part in sorted(parts):
            d = "/".join([base, *(partition_dir(self.spark, c, v) for c, v in part)])
            fs, hp = self._fs_path(d)
            if fs.exists(hp):
                dirs.append(d)
        if not dirs:
            return None
        return self.spark.read.schema(schema).option("basePath", base).parquet(*dirs)

    def _index_append(self, batch: list) -> int:
        """The one append-and-stamp step behind `index_incremental` and
        `index_cdc` — the reference's single `index_in_elasticsearch`
        (index-data-lambda.py:390-411). `batch` is pinned driver-side
        `(id, data_type, location)` rows. Tokenizes and appends the raw
        records of the batch not yet in the index, appends a BM25 stats
        row for each searchable document that has none, then stamps
        what is searchable. Returns the number of ids stamped.

        One action finds both sets, reading only the batch's data_type
        partitions of the index and its (data_type, ingest_date)
        partitions of raw, semi-joined against the batch's ids; it
        returns one row per batch id found, in raw or in the index, with
        the document's length `dl` (the stats row's value)."""
        rows = {r["id"]: r for r in batch}
        if not rows:
            return 0
        # roll an interrupted dedup_zone publish forward (or wait out a
        # live one) first: with raw/records renamed away, the partition
        # read below would see no record and drop the batch for good
        self._recover_zone_swap("raw")
        # (data_type, ingest_date) of each record, from its location
        parts = {
            (r["data_type"], r["location"].rsplit("/ingest_date=", 1)[1])
            for r in rows.values()
        }
        types = {(("data_type", dt),) for dt, _ in parts}
        raw = self._read_partitions(
            f"{self.zone('raw')}/records",
            RECORD_SCHEMA,
            {(("data_type", dt), ("ingest_date", d)) for dt, d in parts},
        )
        index = self._read_partitions(self.search_index_path, INDEX_SCHEMA, types)
        # An index without a stats table predates the table, or lost it
        # to a reindex that died part-way: its stats are left to the
        # reindex the next BM25 search runs, so none is appended to a
        # table that would then count only some documents.
        fs, stats_dir = self._fs_path(self.search_stats_path)
        has_stats_table = fs.exists(stats_dir)
        fresh = not has_stats_table and not fs.exists(
            self._fs_path(self.search_index_path)[1]
        )
        # content-keyed idempotence: a writer can die between the index
        # append, the stats append and the stamp, and foreachBatch side
        # effects are at-least-once, so an id already carrying index
        # tokens is never appended again, an id already carrying a
        # stats row never gets a second one, and each converges to
        # indexed=true. Both sets are pinned BEFORE the append: the
        # parquet relation re-lists files at action time.
        batch_ids = _id_frame(self.spark, rows)
        sides = [
            df.join(batch_ids, "id", "left_semi").select(
                "id", F.lit(in_index).alias("in_index"), dl.cast("long").alias("dl")
            )
            for df, in_index, dl in (
                (index, True, F.col("dl")),
                (raw, False, F.size(_tokens(F.col("payload")))),
            )
            if df is not None
        ]
        found = {}
        if sides:
            union = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
            # one row per id: a redelivered batch's postings collapse
            # map-side instead of reaching the driver one per token
            found = {
                r["id"]: r
                for r in union.groupBy("id")
                .agg(F.max("in_index").alias("in_index"), F.max("dl").alias("dl"))
                .collect()
            }
        new_ids = [i for i, r in found.items() if not r["in_index"]]
        if new_ids:
            if fresh:
                # the first append creates the index: create the stats
                # table with it, so a crash between the two appends
                # leaves a table the redelivery completes
                fs.mkdirs(stats_dir)
                has_stats_table = True
            # guard the append on non-empty: an unconditional empty
            # append materializes a schema-less (_SUCCESS-only) index
            # dir that breaks every later schema-inferring read with
            # UNABLE_TO_INFER_SCHEMA (the quarantine-dir bug, same class)
            self._tokenize(
                raw.join(_id_frame(self.spark, new_ids), "id", "left_semi")
            ).write.mode("append").partitionBy("data_type").parquet(
                self.search_index_path
            )
        if has_stats_table:
            # A stats row is appended only after its document's
            # postings, and a reindex writes both from one listing of
            # raw, so only an id the index already held can have one:
            # the stats table is read only for a batch carrying such
            # ids (a redelivery), not on every micro-batch.
            converged = [i for i, r in found.items() if r["in_index"]]
            stats = None
            if converged:
                stats = self._read_partitions(
                    self.search_stats_path, DOC_STATS_SCHEMA, types
                )
            with_stats = set()
            if stats is not None:
                with_stats = {
                    r[0]
                    for r in stats.join(
                        _id_frame(self.spark, converged), "id", "left_semi"
                    )
                    .select("id")
                    .collect()
                }
            append_rows(
                self.spark,
                self.search_stats_path,
                [
                    {"id": i, "dl": r["dl"], "data_type": rows[i]["data_type"]}
                    for i, r in found.items()
                    if r["dl"] and i not in with_stats
                ],
                DOC_STATS_SCHEMA,
                partition_by=("data_type",),
            )
        # The index_incremental invariant: stamp only ids that are
        # actually SEARCHABLE — the ones whose tokens just landed plus
        # the converged set. An id whose raw record no longer exists
        # (expire() keeps _meta and the changelog as the audit trail)
        # appends zero tokens and must stay indexed=false; stamping it
        # would assert searchability for a tokenless record, forever.
        if found:
            self._mark_indexed(
                found, sorted({rows[i]["data_type"] for i in found})
            )
        return len(found)

    def index_incremental(self) -> int:
        """Incremental indexing (K9/X3 single-doc path, batched): only
        records whose metadata says indexed=false are tokenized and
        appended — an anti-join against the indexed set instead of the
        reference's re-index-everything or one-HTTP-call-per-doc.
        Shares its append-and-stamp step (`_index_append`) with
        `index_cdc`. Returns the number of newly indexed records:
        pending ids whose raw record vanished are never stamped, so a
        poll-until-zero caller terminates."""
        # PIN the pending rows driver-side: append and stamp must act on
        # the SAME set — a lazy plan re-evaluated at stamp time would
        # sweep rows ingested in between into the stamp with no tokens
        # written (invisible to search forever). A collect, not
        # localCheckpoint: checkpoint blocks are never reclaimed
        # in-session. Pending sets are metadata-scale by design.
        return self._index_append(
            self.meta()
            .filter(_unindexed())
            .select("id", "data_type", "location")
            .collect()
        )

    def index_cdc(self, timeout_s: int = 600, trigger: dict | None = None):
        """True CDC indexing (S11): a checkpointed file stream over the
        `_changelog` append feed drives incremental index updates — the
        Spark twin of the reference's DynamoDB-stream→reindex Lambda
        (index-data-lambda.py:51-65), with exactly-once per change file
        instead of at-least-once Lambda retries.

        Each micro-batch carries only the metadata rows appended since
        the last run (checkpoint tracks consumed files). It is read
        once: one collect pins its (id, data_type, location) rows, which
        go through the same append-and-stamp step as
        `index_incremental` (`_index_append`) — no full rebuild, no
        full-meta scan, no read of a partition the batch did not touch.

        `trigger` defaults to `{"availableNow": True}`: drain-then-stop
        (returns None after the drain completes). Pass
        `{"processingTime": "1 second"}` for the ALWAYS-ON mode
        matching the reference's continuous DynamoDB-stream fabric:
        the query keeps polling the changelog and indexes changes as
        they land until .stop(); the StreamingQuery is returned so the
        caller owns its lifecycle. Checkpoint and idempotence contract
        are identical in both modes."""
        # an all-quarantined first ingest appends nothing to the feed
        fs, feed = self._fs_path(self.changelog_path)
        fs.mkdirs(feed)
        stream = self.spark.readStream.schema(META_SCHEMA).parquet(
            self.changelog_path
        )

        def _handle(batch_df: DataFrame, epoch_id: int) -> None:
            self._index_append(
                batch_df.select("id", "data_type", "location").collect()
            )

        if trigger is None:
            trigger = {"availableNow": True}
        q = (
            stream.writeStream.foreachBatch(_handle)
            .option("checkpointLocation", f"{self.root}/_checkpoints/cdc_index")
            .trigger(**trigger)
            .start()
        )
        if "availableNow" in trigger:
            drain(q, timeout_s)
            return None
        return q  # always-on: caller owns stop()

    def search_index(self) -> DataFrame:
        """The postings, read with INDEX_SCHEMA given, so no Spark job
        infers a schema. An index written before postings carried `dl`
        reads null there."""
        return self.spark.read.schema(INDEX_SCHEMA).parquet(self.search_index_path)

    def _ensure_doc_stats(self) -> None:
        """An index with no BM25 stats table (written before the table
        existed, or left by a reindex that died part-way) gets one full
        reindex, under the raw zone lock; a second caller waiting on the
        lock finds the table and returns. No score is computed from
        missing statistics."""
        fs, stats = self._fs_path(self.search_stats_path)
        if fs.exists(stats) or not fs.exists(self._fs_path(self.search_index_path)[1]):
            return
        if self.is_remote:
            self._rebuild_search_index()
            return
        self._recover_zone_swap("raw")
        with self._zone_lock("raw"):
            if not fs.exists(stats):
                self._rebuild_search_index()

    def _doc_totals(self, data_type: str | None) -> tuple[int, int]:
        """(N, Σdl): the stats table's row count and `dl` sum, over
        `data_type`'s partition or over all. A local root reads the `dl`
        column on the driver with pyarrow, so no Spark job runs and the
        driver payload is at most 9 bytes per document in scope (an
        8-byte `dl` and its validity bit); a remote root aggregates it
        with Spark."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        path = self.search_stats_path
        if data_type is not None:
            path = f"{path}/{partition_dir(self.spark, 'data_type', data_type)}"
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return 0, 0
        if self.is_remote:
            n, total = (
                self.spark.read.schema(DOC_STATS_SCHEMA)
                .parquet(path)
                .agg(F.count(F.lit(1)), F.sum("dl"))
                .first()
            )
            return n, total or 0
        dl = pq.read_table(
            path, columns=["dl"], schema=pa.schema([("dl", pa.int64())])
        )["dl"]
        return len(dl), pc.sum(dl).as_py() or 0

    def search(
        self,
        term: str | None = None,
        data_type: str | None = None,
        rank: str = "tf",
    ) -> DataFrame:
        """match_all / term search (X4/X5): returns matching doc ids,
        ranked. Partition pruning on data_type mirrors
        index-per-dataset routing.

        rank='tf' keeps the v1 term-frequency order; rank='bm25' scores
        with Okapi BM25 (k1=1.2, b=0.75) over the engine's own inverted
        index — the relevance order OpenSearch would return (x03 is the
        same scoring on the test corpus, value-oracled). Multi-token
        queries sum per-token BM25.

        BM25 reads its statistics from the index, as OpenSearch keeps
        them per segment: each posting carries its document's length
        `dl`, and N and Σdl of the scope (`data_type`, or the whole
        index) are read from the stats table on the driver
        (`_doc_totals`) and joined in as a one-row broadcast relation.
        The Spark query reads only the postings of the query's tokens
        and shuffles them once, into one partition (the top-k merge
        OpenSearch's coordinator does), where df is a count over each
        token, then scores are summed per id and ordered: three Spark
        jobs on `collect()`, the shuffle, the broadcast and the result.
        An index with no stats table is reindexed once first
        (`_ensure_doc_stats`)."""
        if term is not None and rank == "bm25":
            # before the index is listed: a reindex replaces its files
            self._ensure_doc_stats()
        idx = self.search_index()
        if data_type is not None:
            idx = idx.filter(F.col("data_type") == data_type)
        if term is None:
            return idx
        # tokenize the QUERY exactly as _tokenize tokenizes the index
        # ([^a-z0-9]+): a whitespace split left 'hello-world' or
        # 'user@example.com' unsplit, matching nothing even though the
        # content is indexed as its constituent tokens
        import re as _re

        tokens = [t for t in _re.split(r"[^a-z0-9]+", term.lower()) if t]
        hits = idx.filter(F.col("token").isin(tokens))
        if rank == "tf":
            return hits.orderBy(F.col("tf").desc(), "id")
        if rank != "bm25":
            raise ValueError(f"unknown rank: {rank!r}")
        import pyarrow as pa

        n_docs, total_dl = self._doc_totals(data_type)
        # N and avgdl ride a one-row relation as data: as literals they
        # would be inlined into the generated code, which would then miss
        # Spark's code cache each time the corpus changes
        totals = self.spark.createDataFrame(
            pa.table(
                {
                    "n_docs": pa.array([n_docs], pa.int64()),
                    "avgdl": [total_dl / n_docs if n_docs else 1.0],
                }
            )
        )
        k1, b = 1.2, 0.75
        df, tf = F.col("df"), F.col("tf")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        score = idf * (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        return (
            hits.repartition(1)
            .select(
                "id",
                "tf",
                "dl",
                F.count(F.lit(1)).over(Window.partitionBy("token")).alias("df"),
            )
            .crossJoin(F.broadcast(totals))
            .groupBy("id")
            .agg(
                F.round(F.sum(score), 6).alias("score"),
                F.count("*").alias("n_terms_matched"),
            )
            .orderBy(F.col("score").desc(), "id")
        )

    # -- vector search (knn twin of the text index; SURVEY §2.8 / §2.11) ----
    def vector_index_path(self, name: str = "default") -> str:
        return f"{self.root}/_vector_index/{name}"

    def _vector_current(self, name: str) -> str:
        """Resolve the live index version through the `_LATEST` pointer
        (the _EpochStateStore convention: versioned dirs + atomic
        fsync'd pointer swap, so cells and codebook publish TOGETHER
        or not at all)."""
        import json

        path = self.vector_index_path(name)
        ptr = Path(path, "_LATEST")
        if not ptr.exists():
            raise FileNotFoundError(
                f"no vector index {name!r} at {path} (build_vector_index "
                "first)"
            )
        return f"{path}/{json.loads(ptr.read_text())['version']}"

    def _vector_codebook(self, base: str) -> list:
        """Codebook rows for a RESOLVED version path, cached driver-side:
        version dirs are immutable (a rebuild mints a new dir and swaps
        the pointer), so the cache key — the versioned path itself —
        can never serve stale centroids. Saves one Spark job per
        serving call (the probe's ~1.3 s per-call floor was half this
        read on local[32])."""
        cache = getattr(self, "_vector_cb_cache", None)
        if cache is None:
            cache = self._vector_cb_cache = {}
        if base not in cache:
            if len(cache) > 8:  # a handful of live (name, version) pairs
                cache.clear()
            cache[base] = self.spark.read.parquet(
                f"{base}/codebook"
            ).collect()
        return cache[base]

    def build_vector_index(
        self,
        df: DataFrame,
        name: str = "default",
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        n_cells: int = 8,
    ) -> int:
        """Build an IVF vector index over an embedding column: the knn
        twin of `_rebuild_search_index` (the reference's OpenSearch bulk
        index, lambda-function.py:105-131, carries text; production
        vector stores carry embeddings the same way). Codebook = the
        first `n_cells` vectors by id (the s05 deterministic
        convention; swap in a k-means refresh — s09's step — when
        drift matters), each row map-assigned to its highest-cosine
        cell, and the index lands as parquet PARTITIONED BY cell id,
        so a probe reads only its cells' files (partition pruning —
        the on-disk analogue of OpenSearch's per-shard posting lists).

        Cells and codebook are COUPLED artifacts (cids mean nothing
        without the centroids that minted them), so both land in one
        versioned dir published by an atomic `_LATEST` pointer swap —
        a crashed rebuild leaves the previous version live, never a
        new-cells/old-codebook hybrid. Local-FS roots only: the
        pointer needs rename atomicity; on an object store use a
        conditional PUT of the pointer object (documented refusal, the
        dedup_zone pattern).

        Superseded versions are NOT deleted at swap time:
        `vector_search` returns lazy DataFrames, and a reader that
        resolved the old pointer may still be mid-scan when the swap
        lands — deleting under it turns a rebuild into the reader's
        FileNotFoundException (the Delta VACUUM-retention rationale).
        Publish instead sweeps versions via `vacuum_vector_index`,
        which reclaims only unreferenced dirs whose newest write is
        older than the grace window; call it with `grace_seconds=0`
        for immediate reclaim when no reader can be live.

        Scale: assignment is one Arrow-batched BLAS pass (codebook
        rides the closure); the only data movement is the partitioned
        write's shuffle on cid. At 100 TB: raise n_cells so cells stay
        file-sized (~sqrt(N) cells), bucket within cells if needed."""
        import json
        import os
        import shutil
        import uuid

        if self.is_remote:
            raise NotImplementedError(
                "build_vector_index publishes via rename-swap pointer; "
                "object-store roots need a conditional-PUT pointer "
                "(not implemented)"
            )
        src = df.select(
            F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
        )
        cent_rows = [
            (r["vec_id"], r["embedding"])
            for r in src.orderBy("vec_id").limit(n_cells).collect()
        ]
        if len(cent_rows) < 1:
            raise ValueError("cannot build a vector index from zero rows")
        # quantize the centroids to the PERSISTED precision (the
        # codebook lands as array<float>) before assignment, so build,
        # append (which re-reads the codebook), and serving's cell
        # ranking all share one quantization — with float64 source
        # embeddings, assigning against full-precision centroids here
        # could route a near-tie vector to a cell the float32-ranked
        # query side disagrees with
        import numpy as _np

        cent_rows = [
            (cid, [float(_np.float32(x)) for x in emb])
            for cid, emb in cent_rows
        ]
        from serverless_datalake_aws_spark.functions import vector as VX

        path = self.vector_index_path(name)
        version = f"v-{uuid.uuid4().hex[:12]}"
        base = f"{path}/{version}"
        # stage under a dot-prefixed name and rename to v-* only when
        # the build is complete (ADVICE r10): vacuum never treats a
        # dot-staging dir as a reclaimable version, so even
        # vacuum_vector_index(grace_seconds=0) racing an in-flight
        # build cannot rmtree its half-written dir. Same-directory
        # rename = one atomic metadata op on the local FS this path
        # already requires (remote roots rejected above).
        staging = f"{path}/.staging-{version}"
        assigned = VX.nearest_centroid(src, cent_rows)
        assigned.write.partitionBy("cid").parquet(f"{staging}/cells")
        # the codebook is n_cells driver-local rows bound for a LOCAL
        # path (remote roots are rejected above): the driver-side
        # appender writes it without dispatching a Spark job (the job
        # was pure dispatch cost, ~0.35 s for 8 rows — r12 m13 build
        # profile), in the (cid long, embedding array<float>) schema
        # the Spark write produced.
        append_rows(
            self.spark,
            f"{staging}/codebook",
            [{"cid": c, "embedding": e} for c, e in cent_rows],
            T.StructType(
                [
                    T.StructField("cid", T.LongType()),
                    T.StructField("embedding", T.ArrayType(T.FloatType())),
                ]
            ),
        )
        # row count for lineage: sum the cells' parquet footers driver-
        # side (metadata-only, the same numbers a Spark count() job
        # reads — minus the job; ~0.2-0.6 s per build at the fixture)
        import pyarrow.parquet as pq

        from serverless_datalake_aws_spark.sources.stats import (
            list_parquet_files,
        )

        n = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in list_parquet_files(f"{staging}/cells")
        )
        os.rename(staging, base)
        ptr = Path(path, "_LATEST")
        prev = None
        if ptr.exists():
            prev = json.loads(ptr.read_text())["version"]
        tmp = Path(path, f"._LATEST.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump({"version": version}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, ptr)
        if prev and prev != version:
            # tombstone the superseded version so the vacuum's grace
            # clock starts at SUPERSESSION time — aging from the dir's
            # last write would delete a long-lived old version the
            # instant it is superseded, exactly when a reader may still
            # hold a plan against it
            Path(path, f".superseded.{prev}").touch()
        # grace-based sweep, never an immediate delete of the
        # superseded version (live readers — see docstring); also
        # reclaims aged-out crash orphans and stale pointer temps the
        # old previous-pointer-only GC leaked forever
        self.vacuum_vector_index(name)
        self._log_lineage("build_vector_index", "-", f"{base}/cells", n)
        return n

    # reader grace before a superseded/orphaned index version is
    # reclaimed: a lazy DataFrame resolved against the old version must
    # get this long to finish its scan after a rebuild (consume search
    # results within this window of a rebuild, or re-plan). Matches the
    # zone-table convention (sources/versioning._CLAIM_TTL).
    VECTOR_GC_GRACE = 3600.0

    def vacuum_vector_index(
        self, name: str = "default", grace_seconds: float | None = None
    ) -> list[str]:
        """Reclaim vector-index versions no longer referenced by the
        `_LATEST` pointer — superseded versions left for reader grace,
        crashed-build orphans that never published, and stale
        `._LATEST.*` pointer temps. A dir is reclaimed only when its
        NEWEST write (max mtime across the tree) is older than
        `grace_seconds`. The grace clock per dir: a SUPERSEDED version
        ages from its `.superseded.<version>` tombstone (touched at
        pointer-swap time — aging from the dir's last write would
        delete a long-lived version the instant it was superseded,
        under any reader still scanning it) and honors the per-call
        grace. EVERYTHING ELSE — `.staging-v-*` build staging,
        un-tombstoned `v-*` dirs (a build inside its rename→pointer-
        publish window, or a crash there), `._LATEST.*` pointer temps
        mid-os.replace — ages from its newest write mtime against the
        FIXED `VECTOR_GC_GRACE`, deliberately NOT the per-call value:
        callers drop `grace_seconds` to 0 to force-expire published
        versions, not to assert no build is running, and a zero-grace
        vacuum racing a publisher must never delete the dir the
        pointer is about to reference (ADVICE r10 + the r11 review's
        rename-window finding). Returns reclaimed paths."""
        import os
        import shutil

        grace = self.VECTOR_GC_GRACE if grace_seconds is None else grace_seconds
        path = Path(self.vector_index_path(name))
        if not path.exists():
            return []
        current = None
        ptr = path / "_LATEST"
        if ptr.exists():
            import json

            current = json.loads(ptr.read_text())["version"]
        now = _time.time()

        def _newest_mtime(p: Path) -> float | None:
            try:
                newest = p.stat().st_mtime
            except FileNotFoundError:
                return None  # reclaimed by a concurrent vacuum
            for dirpath, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        newest = max(
                            newest, os.stat(os.path.join(dirpath, f)).st_mtime
                        )
                    except FileNotFoundError:
                        pass  # racing writer/cleaner; skip
            return newest

        def _age_of(entry: Path, is_version: bool) -> float | None:
            if is_version:
                tomb = path / f".superseded.{entry.name}"
                try:
                    return now - tomb.stat().st_mtime
                except FileNotFoundError:
                    pass  # never published: fall through to write age
                newest = _newest_mtime(entry)
                return None if newest is None else now - newest
            try:
                return now - entry.stat().st_mtime
            except FileNotFoundError:
                return None  # reclaimed under us (concurrent vacuum)

        reclaimed: list[str] = []
        for entry in sorted(path.iterdir()):
            if entry.name == current or entry.name == "_LATEST":
                continue
            is_version = entry.is_dir() and entry.name.startswith("v-")
            is_ptr_tmp = entry.is_file() and entry.name.startswith("._LATEST.")
            if entry.is_file() and entry.name.startswith(".superseded."):
                # tombstone whose version dir is already gone: debris
                if not (path / entry.name[len(".superseded.") :]).exists():
                    entry.unlink(missing_ok=True)
                continue
            if entry.is_dir() and entry.name.startswith(".staging-"):
                # crashed-build staging debris: reclaim only past the
                # FIXED grace (a live build keeps its newest mtime
                # fresh; grace_seconds=0 means "expire published
                # versions now", never "no build is running")
                newest = _newest_mtime(entry)
                if newest is not None and now - newest > self.VECTOR_GC_GRACE:
                    shutil.rmtree(entry, ignore_errors=True)
                    reclaimed.append(str(entry))
                continue
            if not (is_version or is_ptr_tmp):
                continue
            age = _age_of(entry, is_version)
            # ONLY tombstoned versions honor the per-call grace (the
            # caller's "expire superseded versions now" intent). An
            # un-tombstoned v-* dir or a ._LATEST.* temp may be a build
            # in its rename→pointer-publish window — milliseconds wide,
            # but a grace_seconds=0 vacuum racing it would delete the
            # dir A is about to point _LATEST at (every later search
            # then FileNotFounds). Crash debris of either kind waits
            # for the fixed grace, same as .staging-* above.
            tombstoned = (
                is_version and (path / f".superseded.{entry.name}").exists()
            )
            floor = grace if tombstoned else max(grace, self.VECTOR_GC_GRACE)
            if age is None or age < floor:
                continue
            if is_version:
                shutil.rmtree(entry, ignore_errors=True)
                (path / f".superseded.{entry.name}").unlink(missing_ok=True)
            else:
                entry.unlink(missing_ok=True)
            reclaimed.append(str(entry))
        return reclaimed

    def add_to_vector_index(self, df: DataFrame, name: str = "default",
                            id_col: str = "vec_id",
                            emb_col: str = "embedding") -> int:
        """Append new vectors under the EXISTING codebook (the st19
        streaming-maintenance shape as a batch API): assign against the
        persisted centroids, append into the live version's cell
        partitions — safe without a version bump because the codebook
        is unchanged. History is never re-read; a codebook refresh is
        a rebuild."""
        base = self._vector_current(name)
        cent_rows = [
            (r["cid"], r["embedding"]) for r in self._vector_codebook(base)
        ]
        from serverless_datalake_aws_spark.functions import vector as VX

        src = df.select(
            F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
        )
        # persist so the written rows and the returned count are the
        # SAME evaluation (a non-deterministic input re-executed for
        # the count could disagree with what landed)
        assigned = VX.nearest_centroid(src, sorted(cent_rows)).persist()
        try:
            assigned.write.partitionBy("cid").mode("append").parquet(
                f"{base}/cells"
            )
            n = assigned.count()
        finally:
            assigned.unpersist()
        self._log_lineage("add_to_vector_index", "-", f"{base}/cells", n)
        return n

    def vector_search(
        self,
        query_vec: list[float],
        k: int = 5,
        nprobe: int = 2,
        name: str = "default",
    ) -> DataFrame:
        """Cosine top-k over the IVF index: rank cells by
        query-centroid cosine (codebook is a handful of rows —
        collected, like any ANN library's in-memory coarse quantizer),
        then scan ONLY the `nprobe` nearest cells' partitions. Exact
        cosine on the candidates, deterministic (score DESC, id)
        order — s05's serving path as an engine API. nprobe=n_cells
        degrades gracefully to exact brute force."""
        import math

        if nprobe < 1:
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
        if qn == 0.0:
            raise ValueError("zero-norm query vector has no cosine order")
        base = self._vector_current(name)
        cb = self._vector_codebook(base)
        probe = self._rank_cells(cb, query_vec, qn)[:nprobe]
        qarr = F.array(*[F.lit(float(x)) for x in query_vec])
        from serverless_datalake_aws_spark.functions import vector as VX

        cells = self.spark.read.parquet(f"{base}/cells").filter(
            F.col("cid").isin(probe)  # partition-pruned scan
        )
        cos = VX.dot(F.col("embedding"), qarr) / (F.col("nrm") * F.lit(qn))
        return (
            cells.filter(F.col("nrm") > 0.0)
            .select(
                "vec_id",
                "cid",
                F.round(cos, 6).alias("score"),
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(k)
        )

    @staticmethod
    def _rank_cells(cb: list, query_vec: list[float], qn: float) -> list[int]:
        """Cell ids by query-centroid cosine (6-dp rounded, ties to the
        smaller cid) — the driver-side coarse quantizer shared by the
        single and batched search paths."""
        import math

        ranked = sorted(
            (
                -round(
                    sum(
                        float(a) * float(b)
                        for a, b in zip(r["embedding"], query_vec)
                    )
                    / (
                        (
                            math.sqrt(
                                sum(float(x) ** 2 for x in r["embedding"])
                            )
                            * qn
                        )
                        or float("inf")
                    ),
                    6,
                ),
                r["cid"],
            )
            for r in cb
        )
        return [cid for _negcos, cid in ranked]

    def vector_search_batch(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 5,
        nprobe: int = 2,
        name: str = "default",
    ) -> DataFrame:
        """Cosine top-k for a WHOLE query set in ONE job — the batched
        serving shape (vector_search pays a per-call job-dispatch floor
        measured at ~1.3 s on local[32], SCALE.md "Round-9: engine
        vector-index probe";
        a reranker or eval harness with hundreds of queries wants one
        plan, not a driver loop). Semantics are vector_search's
        exactly, per query: same cell ranking, same probe restriction,
        same (score DESC, vec_id) order — plus query_id and rk columns.

        Plan shape: the scan is pruned to the UNION of all probed cells
        (PartitionFilters), then a broadcast (query_id, cid) probe map
        restricts each query to ITS cells and a broadcast query table
        supplies the vectors; one window per query_id picks the top-k.
        Cost ∝ Σ probed-cell populations, never |queries| × corpus."""
        import math

        if nprobe < 1:
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        if not queries:
            raise ValueError("empty query set")
        qids = [int(qid) for qid, _qv in queries]
        if len(set(qids)) != len(qids):
            # two vectors under one id would silently interleave through
            # the broadcast probe map and qtab joins (row_number then
            # mixes both vectors' scores in one partition)
            dups = sorted({q for q in qids if qids.count(q) > 1})
            raise ValueError(f"duplicate query_id(s): {dups}")
        base = self._vector_current(name)
        cb = self._vector_codebook(base)
        probe_rows, q_rows = [], []
        for qid, qv in queries:
            qv = [float(x) for x in qv]
            qn = math.sqrt(sum(x * x for x in qv))
            if qn == 0.0:
                raise ValueError(
                    f"zero-norm query vector (query_id={qid}) has no "
                    "cosine order"
                )
            q_rows.append((int(qid), qv, qn))
            probe_rows.extend(
                (int(qid), int(cid))
                for cid in self._rank_cells(cb, qv, qn)[:nprobe]
            )
        from serverless_datalake_aws_spark.functions import vector as VX
        from pyspark.sql.window import Window as W

        probes = self.spark.createDataFrame(
            probe_rows, "query_id long, cid long"
        )
        qtab = self.spark.createDataFrame(
            q_rows, "query_id long, qv array<double>, qn double"
        )
        all_cids = sorted({cid for _qid, cid in probe_rows})
        cells = self.spark.read.parquet(f"{base}/cells").filter(
            F.col("cid").isin(all_cids)  # partition-pruned superset
        )
        cos = VX.dot(F.col("embedding"), F.col("qv")) / (
            F.col("nrm") * F.col("qn")
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("score").desc(), "vec_id"
        )
        return (
            cells.filter(F.col("nrm") > 0.0)
            .join(F.broadcast(probes), "cid")
            .join(F.broadcast(qtab), "query_id")
            .select(
                "query_id",
                "vec_id",
                "cid",
                F.round(cos, 6).alias("score"),
            )
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
            .orderBy("query_id", "rk")
        )
