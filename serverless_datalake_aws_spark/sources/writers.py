"""Format writers + zone promotion (SURVEY.md §2.2 K1-K5).

The reference writes one object per record/file and re-keys raw/→
processed/ (lambda-function.py:210-234). Here writers are partitioned
and format-preserving; `promote` is read→(transform)→write — the
medallion bronze→silver step — and `compact` rewrites a partitioned
table into ~target-sized files (the reference's small-file problem is
its #1 scaling flaw at 100 TB, SURVEY §4.3).

`append_rows` is the driver-side writer for rows already held in driver
memory (ingest batches, lineage events, telemetry, codebooks): the files
Spark would write, without a Spark job.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_datalake_aws_spark.sources.readers import detect_format, read_any


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    if isinstance(dt, T.ArrayType):
        return pa.list_(
            pa.field("element", _arrow_type(dt.elementType), dt.containsNull)
        )
    return {
        T.StringType: pa.string,
        T.LongType: pa.int64,
        T.IntegerType: pa.int32,
        T.DoubleType: pa.float64,
        T.FloatType: pa.float32,
        T.BooleanType: pa.bool_,
        T.DateType: pa.date32,
        T.TimestampType: lambda: pa.timestamp("us", tz="UTC"),
    }[type(dt)]()


def _spark_footer(schema: T.StructType) -> dict[str, str]:
    """The key-value metadata Spark's ParquetWriteSupport puts in every
    footer: the short Spark version and the catalyst schema as compact
    JSON (Scala's field order, which jsonValue() keeps)."""
    import pyspark

    version = re.match(r"\d+\.\d+\.\d+", pyspark.__version__).group(0)
    return {
        "org.apache.spark.version": version,
        "org.apache.spark.sql.parquet.row.metadata": json.dumps(
            schema.jsonValue(), separators=(",", ":")
        ),
    }


def _varint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    return bytes(out + bytes([n]))


def _add_footer_metadata(path: str, kv: dict[str, str]) -> None:
    """Give a parquet file written without key-value metadata exactly
    `kv` as its footer's key-value list. pyarrow can write either no
    metadata or the schema's metadata plus an `ARROW:schema` key Spark
    never writes, so the list is appended here as FileMetaData field 5
    in Thrift's compact encoding: a long-form field header (id 5 after a
    higher id), a list of KeyValue structs, then the struct's stop byte
    the serialized footer ends with."""
    entries = b"".join(
        b"\x18" + _varint(len(k)) + k + b"\x18" + _varint(len(v)) + v + b"\x00"
        for k, v in ((k.encode(), v.encode()) for k, v in kv.items())
    )
    # list header: size (< 15, Spark's two keys) and element type struct
    field = b"\x09" + _varint(5 << 1) + bytes([len(kv) << 4 | 12]) + entries
    with open(path, "r+b") as f:
        f.seek(-8, os.SEEK_END)
        tail = f.read(8)
        n = int.from_bytes(tail[:4], "little")
        f.seek(-8 - n, os.SEEK_END)
        footer = f.read(n)
        if tail[4:] != b"PAR1" or footer[-1:] != b"\x00":
            raise ValueError(f"{path}: not a plain parquet footer")
        footer = footer[:-1] + field + b"\x00"
        f.seek(-8 - n, os.SEEK_END)
        f.write(footer + len(footer).to_bytes(4, "little") + b"PAR1")


def partition_dir(spark: SparkSession, col: str, value) -> str:
    """`col=value` escaped by Spark's own rule (the JVM's
    ExternalCatalogUtils, a driver-side call that runs no job), so a
    partition this module writes is the directory a Spark write of the
    same value would create and partition discovery reads back."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return utils.getPartitionPathString(col, None if value is None else str(value))


def append_rows(
    spark: SparkSession | None,
    path: str,
    rows: list[dict],
    schema: T.StructType,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Append driver-held `rows` (dicts keyed by `schema`'s names) to the
    parquet table at `path`, one file per partition of `partition_by`.
    Returns the rows written; no rows write nothing.

    Local paths are written with pyarrow: Spark's physical schema,
    footer metadata and timestamp encoding (the session's
    outputTimestampType), in partition directories named by
    `partition_dir`. Each file is written under a `.`-prefixed name and
    renamed into place, so no reader — batch scans and the `_changelog`
    file stream alike skip `.`/`_` names — ever lists a partial file.
    Remote (`scheme://`) paths keep Spark's writer and its committer.
    `spark` may be None for an unpartitioned local table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not rows:
        return 0
    if "://" in path:
        spark.createDataFrame(
            [tuple(r[n] for n in schema.names) for r in rows], schema
        ).write.mode("append").partitionBy(*partition_by).parquet(path)
        return len(rows)
    data = T.StructType([f for f in schema.fields if f.name not in partition_by])
    arrow = pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType), f.nullable) for f in data]
    )
    ts_type = (
        spark.conf.get("spark.sql.parquet.outputTimestampType")
        if spark is not None
        else "TIMESTAMP_MICROS"
    )
    groups: dict[tuple, list[dict]] = {}
    for r in rows:
        groups.setdefault(tuple(r[c] for c in partition_by), []).append(r)
    for values, part in groups.items():
        subdir = os.path.join(
            path, *(partition_dir(spark, c, v) for c, v in zip(partition_by, values))
        )
        os.makedirs(subdir, exist_ok=True)
        name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
        staged = os.path.join(subdir, f".{name}")
        try:
            pq.write_table(
                pa.Table.from_pylist(part, schema=arrow),
                staged,
                compression="snappy",
                store_schema=False,
                use_deprecated_int96_timestamps=ts_type == "INT96",
                coerce_timestamps="ms" if ts_type == "TIMESTAMP_MILLIS" else None,
            )
            _add_footer_metadata(staged, _spark_footer(data))
            os.rename(staged, os.path.join(subdir, name))
        except BaseException:
            if os.path.exists(staged):
                os.remove(staged)
            raise
    return len(rows)


def write_any(
    df: DataFrame,
    path: str | Path,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write in csv/json/parquet (K2-K4), optionally hive-partitioned."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer.option("header", True).csv(str(path))
    elif fmt in ("json", "ndjson"):
        writer.json(str(path))
    elif fmt == "parquet":
        writer.parquet(str(path))
    elif fmt == "orc":
        writer.orc(str(path))
    else:
        raise ValueError(f"unsupported write format: {fmt}")


def promote(
    spark: SparkSession,
    src: str | Path,
    dst: str | Path,
    transform=None,
    fmt: str | None = None,
) -> DataFrame:
    """Zone promotion (K5): read src in its format, stamp
    processed_timestamp (T1), apply the optional transform hook
    (§2.10), write dst in the same format."""
    kind = fmt or detect_format(src)
    if kind is None:
        raise ValueError(f"cannot promote unsupported format: {src}")
    df = read_any(spark, src, fmt=kind)
    df = df.withColumn("processed_timestamp", F.current_timestamp())
    if transform is not None:
        df = transform(df)
    write_any(df, dst, fmt=kind)
    return df


def compact(
    spark: SparkSession,
    path: str | Path,
    target_file_mb: int = 128,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite a table into ceil(bytes/target)
    files. Returns the new file count. At lake scale this runs
    per-partition as a maintenance job after streaming ingest."""
    import math

    from pyspark.sql import types as T

    path = Path(str(path))
    total = sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    if fmt == "csv":
        # layout-only contract: csv is untyped text, and inferSchema
        # would re-type values on the round trip ('01234' -> 1234,
        # '1e5' -> 100000.0). Read every column as string — the bytes
        # written back are the bytes that were there.
        header = spark.read.option("header", True).csv(str(path))
        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in header.columns]
        )
        df = spark.read.option("header", True).schema(schema).csv(str(path))
    else:
        df = read_any(spark, path, fmt=fmt)
    tmp = str(path) + ".compact.tmp"
    # Rewrite in the table's own format — compaction must never change
    # what extension-dispatched readers see afterwards.
    write_any(df.coalesce(n_files), tmp, fmt=fmt)
    # completion flag rides INSIDE the stage (published with it): the
    # heal in engine.maintain uses it to tell a finished swap (old is
    # a duplicate — delete) from a mid-publish crash (old is the only
    # full history — republish it, folding in any post-crash flushes)
    (Path(tmp) / "_COMPACT_DONE").write_text("1")
    # rename-based swap: the old rmtree(path)+move left a window where
    # the ENTIRE feed existed only in tmp; a post-crash flush then
    # recreated path and the old heal deleted tmp — all history gone
    import shutil

    old = Path(str(path) + ".compact.old")
    path.rename(old)
    shutil.move(tmp, str(path))
    shutil.rmtree(old)
    return n_files


def route_to_shards(df: DataFrame, n_shards: int, seed: int) -> DataFrame:
    """Globally shuffle `df` into EXACTLY `n_shards` balanced
    partitions, deterministically per seed.

    The naive `repartition(n, pmod(hash(rand(seed)), n))` double-
    hashes: hash partitioning places value v in pmod(hash(v), n),
    which is NOT the identity on 0..n-1 — shard ids collide into
    fewer buckets (measured: 9 of 20 partitions empty, 5x spread).
    Instead, each target bucket b gets a REPRESENTATIVE integer j
    with pmod(hash(j), n) == b (found once by probing — metadata
    scale, ~n rows collected) and rows route through their bucket's
    representative, so the exchange lands every row in exactly the
    intended partition. Returns df + `_shard` (the bucket id)."""
    spark = df.sparkSession
    reps: dict[int, int] = {}
    probe_hi = max(64, n_shards * 8)
    while len(reps) < n_shards:
        got = (
            spark.range(probe_hi)
            .select(
                F.col("id").alias("j"),
                F.pmod(F.hash("id"), F.lit(n_shards)).alias("b"),
            )
            .groupBy("b")
            .agg(F.min("j").alias("j"))
            .collect()
        )
        reps = {r["b"]: r["j"] for r in got}
        probe_hi *= 4
    route = spark.createDataFrame(
        [(b, j) for b, j in sorted(reps.items())], "_shard int, _rt long"
    )
    return (
        df.withColumn(
            "_shard",
            F.pmod(F.hash(F.rand(seed)), F.lit(n_shards)).cast("int"),
        )
        .join(F.broadcast(route), "_shard")
        .repartition(n_shards, "_rt")
        .drop("_rt")
    )


def write_training_shards(
    spark: SparkSession,
    df: DataFrame,
    path: str | Path,
    target_shard_mb: int = 256,
    shuffle_seed: int | None = None,
) -> dict:
    """Export a curated dataset as evenly-sized training shards with a
    manifest — the webdataset/LLM-dataloader contract (N similar-sized
    shards, each independently readable, with row/byte counts a loader
    can schedule against). The reference has no export surface at all
    (consumers read raw S3 objects); this is the gold-zone exit.

    Shard count = ceil(sampled-bytes / target); rows route to shards by
    `pmod(hash(rand(seed)), n)` via repartition — one shuffle, shards
    within a few percent of each other by size. With `shuffle_seed`
    set, the assignment is deterministic AND the rows are globally
    shuffled across shards — the offline shuffle a training run wants
    (sequential shard reads ≈ random sample). The manifest
    (`_manifest.json`) records per-shard files, rows, and bytes.

    Scale: sizing uses Spark's own logical-plan stats (no extra scan at
    this SF; `ANALYZE` keeps them honest on cataloged tables); the
    write is one round-robin/hash exchange, the same cost as any
    repartitioned write.
    """
    import json
    import math

    path = Path(str(path))
    est_bytes = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if est_bytes >= (1 << 60):
        # unknown-stats sentinel (spark.sql.defaultSizeInBytes =
        # Long.MaxValue, e.g. an RDD-backed plan): capping the BYTES
        # still yields millions of shards — fall back to the plan's
        # own parallelism instead
        n_shards = max(1, df.rdd.getNumPartitions())
    else:
        n_shards = max(1, math.ceil(est_bytes / (target_shard_mb * 1024 * 1024)))
    if shuffle_seed is not None:
        out = route_to_shards(df, n_shards, shuffle_seed).drop("_shard")
    else:
        out = df.repartition(n_shards)
    out.write.mode("overwrite").parquet(str(path))
    shards = []
    for f in sorted(path.glob("part-*.parquet")):
        md_rows = _parquet_rows(f)
        shards.append(
            {"file": f.name, "rows": md_rows, "bytes": f.stat().st_size}
        )
    manifest = {
        "format": "parquet",
        "n_shards": len(shards),
        "target_shard_mb": target_shard_mb,
        "total_rows": sum(s["rows"] for s in shards),
        "total_bytes": sum(s["bytes"] for s in shards),
        "shuffled": shuffle_seed is not None,
        "shards": shards,
    }
    (path / "_manifest.json").write_text(json.dumps(manifest, indent=1))
    return manifest


def _parquet_rows(f: Path) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(f).num_rows
