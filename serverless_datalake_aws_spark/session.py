"""SparkSession factory tuned for the engine.

Local-mode testing uses local[N]; the conf below is chosen so the same
logical plans scale to a real cluster: AQE handles runtime re-planning
(partition coalescing, skew-join splitting), Arrow accelerates any
pandas-UDF path, and UTC session time keeps results comparable with the
DuckDB oracle (naive-UTC timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


_REMOTE_SCHEMES = ("s3a", "s3", "gs", "abfss", "wasbs", "hdfs")


def object_store_conf(lake_root: str, glue: bool = False) -> dict[str, str]:
    """The documented cloud conf (SCALE.md 'Cloud paths') as code: the
    hadoop-aws committer + partition-overwrite settings an `s3a://` (or
    gs/abfss/hdfs) lake root needs so task commits are not rename-based
    and K7's dynamic partition overwrite replaces only affected
    partitions. Returns {} for local roots — callers can apply
    unconditionally.

    `glue=True` adds the AWS Glue Data Catalog as the Hive metastore
    (the public awslabs Glue catalog client factory) — the engine's
    equivalent of the reference's Glue crawler + Athena catalog
    (terraform main.tf:203-214), with `saveAsTable`/`spark.sql`
    resolving against Glue instead of a local metastore. The jars
    (hadoop-aws, glue-catalog client) are not bundled in this container;
    the conf is exactly what a cluster image ships."""
    scheme = lake_root.split("://", 1)[0] if "://" in lake_root else ""
    if scheme not in _REMOTE_SCHEMES:
        return {}
    conf = {
        # replace only the partitions a write contains (K7 upsert path)
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
    }
    if scheme in ("s3a", "s3"):
        conf.update(
            {
                # magic committer: task commit = S3 multipart-complete,
                # not a rename (renames are O(data) copies on S3)
                "spark.hadoop.fs.s3a.committer.name": "magic",
                "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
                "spark.sql.parquet.output.committer.class": (
                    "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
                ),
                "spark.sql.sources.commitProtocolClass": (
                    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
                ),
                # throughput: parallel multipart uploads, pooled conns
                "spark.hadoop.fs.s3a.fast.upload": "true",
                "spark.hadoop.fs.s3a.connection.maximum": "96",
            }
        )
    if glue:
        conf.update(
            {
                "spark.sql.catalogImplementation": "hive",
                "spark.hadoop.hive.metastore.client.factory.class": (
                    "com.amazonaws.glue.catalog.metastore."
                    "AWSGlueDataCatalogHiveClientFactory"
                ),
            }
        )
    return conf


def get_session(
    app_name: str = "serverless-datalake-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
    extra_conf: dict[str, str] | None = None,
    lake_root: str | None = None,
    glue: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Shuffle partitions default to the core count locally; on a real
    cluster AQE coalesces post-shuffle partitions to the right size, so
    the static number only sets the upper bound of the initial plan.
    Passing a remote `lake_root` layers in `object_store_conf`.
    """
    n = cpus or _default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); sessions built here
        # read it as int64 without the per-scan conf flip in catalog.table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark ≥4.x reads tz-less parquet timestamps as TIMESTAMP_NTZ by
        # default; keep the LTZ (UTC) read so unix_micros()/oracle parity hold
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # default INT96 timestamps carry NO parquet footer min/max stats,
        # which silently disables sources/stats.py zone-map skipping on
        # every timestamp column; MICROS is also what modern engines write
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the generated-code cache: an ingest → index_cdc → search →
        # process/merge/maintain round plans more distinct stages than
        # the default 100 entries, so the LRU evicted them and every
        # round re-ran Janino on ~130 classes (24 with this size), each
        # then JIT-compiled from scratch again. A static conf: launch only
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Object-store conf is applied to the LIVE context, never through
    # the builder: getOrCreate re-sets builder confs on a reused
    # session, and the committer-class entries fail validation wherever
    # the hadoop-cloud jars are absent (this container) — which would
    # abort session acquisition. Hadoop entries land on the Hadoop conf
    # (read at S3A filesystem instantiation); SQL entries go through
    # conf.set, skipping any a live session can't take. On a production
    # cluster image pass object_store_conf() via spark-submit --conf,
    # where the classes resolve and the static entries bind at launch.
    if lake_root:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in object_store_conf(lake_root, glue=glue).items():
            if k.startswith("spark.hadoop."):
                hconf.set(k[len("spark.hadoop.") :], v)
            else:
                try:
                    spark.conf.set(k, v)
                except Exception:  # static/validated conf unavailable here
                    pass
    spark.sparkContext.setLogLevel("WARN")
    return spark
