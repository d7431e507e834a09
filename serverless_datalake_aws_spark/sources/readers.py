"""Format-dispatching readers (SURVEY.md §2.1 S1-S6).

The reference reads whole files into pandas by extension
(`lambda-function.py:64-106`: CSV header+infer, JSON array vs NDJSON
sniffing, Parquet via pyarrow, unknown → skip with warning). Here the
same dispatch returns distributed DataFrames: Spark's readers split
files, push filters, and prune columns instead of materializing whole
objects in one process (the reference's 256 MB Lambda ceiling,
deploy-script.sh:77).
"""

from __future__ import annotations

import logging
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

log = logging.getLogger(__name__)

# extension → reader kind (reference detect_file_type, lambda-function.py:64-73)
_FORMATS = {
    ".csv": "csv",
    ".tsv": "tsv",
    ".json": "json",
    ".jsonl": "ndjson",
    ".ndjson": "ndjson",
    ".parquet": "parquet",
    ".orc": "orc",
    ".txt": "text",
    # .avro requires the spark-avro package (not in this runtime);
    # detect_format returns None → skip-with-warn, same as any unknown
}

# Transparent-compression suffixes: Spark's text-based sources (csv/
# json/text) decompress these via Hadoop codecs on read, so dispatch on
# the INNER extension (x.ndjson.gz → ndjson). Columnar formats carry
# compression inside the file, never in the name.
_COMPRESSED = {".gz", ".bz2"}


def _effective_suffix(p: Path) -> str:
    suffix = p.suffix.lower()
    if suffix in _COMPRESSED:
        inner = Path(p.stem).suffix.lower()
        return inner or suffix
    return suffix


def detect_format(path: str | Path) -> str | None:
    """Extension dispatch (S5). Unknown extensions return None — the
    caller skips with a warning, mirroring lambda-function.py:100-101.
    Compressed text files dispatch on the inner extension
    (`events.ndjson.gz` → ndjson). For directories (written datasets),
    dispatch on the first data file's extension."""
    p = Path(str(path))
    kind = _FORMATS.get(_effective_suffix(p))
    if kind is None and p.is_dir():
        for f in sorted(p.rglob("*")):
            if f.is_file() and not f.name.startswith(("_", ".")):
                kind = _FORMATS.get(_effective_suffix(f))
                if kind:
                    break
    return kind


def is_missing_path(e: Exception) -> bool:
    """True when a Spark read failed only because its path does not
    exist yet (a lake table before its first write). Callers treat that
    as empty; every other AnalysisException (corrupt footer, permission,
    transient IO) is a real error and must propagate."""
    msg = str(e)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


def _sniff_json_multiline(path: str) -> bool:
    """JSON-array vs NDJSON sniff (S2/S3): the reference checks whether
    the body starts with '[' (lambda-function.py:90-95). We sniff the
    first non-whitespace byte of one file instead of the whole object."""
    p = Path(path)
    candidates = [p] if p.is_file() else sorted(p.glob("*.json"))
    for c in candidates[:1]:
        with open(c, "rb") as f:
            head = f.read(64).lstrip()
            return head.startswith(b"[")
    return False


def read_any(
    spark: SparkSession,
    path: str | Path,
    schema: T.StructType | None = None,
    fmt: str | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """Read a file/directory with extension dispatch (S1-S5).

    Returns None for unknown formats (skip-with-warn semantics).
    Schema inference is the default for parity with the reference's
    pandas readers; pass `schema` in production paths — inference costs
    an extra pass at scale.

    `merge_schema=True` (parquet/orc) unions the schema across ALL file
    footers instead of trusting one — the schema-evolution read a lake
    with drifting writers needs (a plain read silently drops columns
    added by newer files). Costs one footer read per file; leave it off
    for hot-path scans of schema-stable tables.
    """
    path = str(path)
    kind = fmt or detect_format(path)
    if kind is None:
        log.warning("unsupported file type, skipping: %s", path)
        return None
    if kind in ("csv", "tsv"):
        reader = spark.read.option("header", True)
        if kind == "tsv":
            reader = reader.option("sep", "\t")
        reader = reader.schema(schema) if schema else reader.option("inferSchema", True)
        return reader.csv(path)
    if kind == "json":
        multiline = _sniff_json_multiline(path)
        reader = spark.read.option("multiLine", multiline)
        if schema:
            reader = reader.schema(schema)
        return reader.json(path)
    if kind == "ndjson":
        reader = spark.read
        if schema:
            reader = reader.schema(schema)
        return reader.json(path)
    if kind == "parquet":
        return spark.read.option("mergeSchema", merge_schema).parquet(path)
    if kind == "orc":
        return spark.read.option("mergeSchema", merge_schema).orc(path)
    if kind == "text":
        return spark.read.text(path)
    raise AssertionError(f"unreachable format {kind}")


def read_binary_dir(spark: SparkSession, path: str | Path, glob: str = "*") -> DataFrame:
    """Opaque binary ingestion for multimodal payloads (SURVEY §2.11):
    (path, modificationTime, length, content:binary) rows."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(str(path))
    )
