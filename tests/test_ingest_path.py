"""The ingest→searchable write path: `ingest_batch` appends every table
from the driver (sources/writers.append_rows) and `index_cdc` reads each
micro-batch once. Pins the files those appends publish against a Spark
write of the same rows, the crash window before a file is published,
and the Spark jobs one ingest→index cycle runs."""

from __future__ import annotations

import json
import os
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_datalake_aws_spark.engine import (
    META_SCHEMA,
    RECORD_SCHEMA,
    DataLakeEngine,
)
from serverless_datalake_aws_spark.operators.metrics import WorkWindow

NONNEG = [("nonneg", "CAST(get_json_object(payload, '$.v') AS INT) >= 0")]
ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"

# table -> (read schema, partition columns) of the reference Spark write
TABLES = {
    "raw/records": (RECORD_SCHEMA, ("data_type", "ingest_date")),
    "quarantine/records": (
        T.StructType(
            [*RECORD_SCHEMA.fields, T.StructField("failed_rules", T.ArrayType(T.StringType()))]
        ),
        ("data_type", "ingest_date"),
    ),
    "_meta": (META_SCHEMA, ("data_type",)),
    "_changelog": (META_SCHEMA, ()),
    "_lineage": ("op string, src string, dst string, n_rows long, at timestamp", ()),
}
# rows each table holds after one ingest of one passing, one failing record
ROWS = {"raw/records": 1, "quarantine/records": 1, "_meta": 2, "_changelog": 1, "_lineage": 2}

# The file schemas Spark's writer gave each table's files for that
# ingest before the driver-side appender, pinned as they were written:
# {(pyarrow schema text, Spark row-metadata fields as (name, type,
# nullable))}. `_meta` holds two: the quarantined row's tags (its failed
# rules) and description are non-null, the accepted row's are not.
ARRAY = json.dumps({"containsNull": True, "elementType": "string", "type": "array"})
RAW_TEXT = "id: string not null\npayload: string not null"
RAW_FIELDS = (("id", "string", False), ("payload", "string", False))


def _meta_file(data_type: bool, filled: bool) -> tuple:
    head = "timestamp: timestamp[us, tz=UTC] not null\n" + (
        "data_type: string not null\n" if data_type else ""
    )
    nn = " not null" if filled else ""
    text = (
        f"id: string not null\n{head}source: string not null\n"
        "owner: string not null\nlocation: string not null\n"
        "size_bytes: int64 not null\nstatus: string not null\n"
        f"tags: list<element: string>{nn}\n  child 0, element: string\n"
        f"description: string{nn}\nindexed: bool not null\n"
        "indexed_at: timestamp[us, tz=UTC]"
    )
    fields = (
        ("id", "string", False),
        ("timestamp", "timestamp", False),
        *((("data_type", "string", False),) if data_type else ()),
        ("source", "string", False),
        ("owner", "string", False),
        ("location", "string", False),
        ("size_bytes", "long", False),
        ("status", "string", False),
        ("tags", ARRAY, not filled),
        ("description", "string", not filled),
        ("indexed", "boolean", False),
        ("indexed_at", "timestamp", True),
    )
    return text, fields


WRITTEN = {
    "raw/records": {(RAW_TEXT, RAW_FIELDS)},
    "quarantine/records": {
        (
            RAW_TEXT + "\nfailed_rules: list<element: string> not null"
            "\n  child 0, element: string",
            RAW_FIELDS + (("failed_rules", ARRAY, False),),
        )
    },
    "_meta": {_meta_file(False, filled=True), _meta_file(False, filled=False)},
    "_changelog": {_meta_file(True, filled=False)},
    "_lineage": {
        (
            "op: string\nsrc: string\ndst: string\nn_rows: int64"
            "\nat: timestamp[us, tz=UTC]",
            (
                ("op", "string", True),
                ("src", "string", True),
                ("dst", "string", True),
                ("n_rows", "long", True),
                ("at", "timestamp", True),
            ),
        )
    },
}


def _fields(row_metadata: str) -> tuple:
    return tuple(
        (
            f["name"],
            f["type"] if isinstance(f["type"], str) else json.dumps(f["type"], sort_keys=True),
            f["nullable"],
        )
        for f in json.loads(row_metadata)["fields"]
    )


def _files(root: Path) -> dict[str, tuple]:
    """{relative parquet path: (pyarrow schema text, footer key-value
    pairs)} of the files a reader lists"""
    out = {}
    for f in sorted(root.rglob("*.parquet")):
        if f.name.startswith((".", "_")):
            continue
        schema = pq.read_schema(f)
        kv = {k.decode(): v.decode() for k, v in (schema.metadata or {}).items()}
        out[str(f.relative_to(root))] = (
            str(schema.remove_metadata()), tuple(sorted(kv.items()))
        )
    return out


@pytest.mark.parametrize(
    "data_type", ["sales", "a/b", "x=y", "50%", "sp ace", "é", "backup.old"]
)
def test_appended_files_match_a_spark_write(spark, tmp_path, data_type):
    """Every table `ingest_batch` appends holds files with the pyarrow
    schema and Spark row metadata Spark's writer gave them (pinned
    above), the footer keys a Spark write of the same rows carries, in
    the directories Spark names; the data_type reads back unchanged
    through meta(), records() and search()."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    (good,) = eng.ingest_batch(
        [{"v": 1, "text": "zebra"}, {"v": -1, "text": "yak"}],
        data_type=data_type,
        validate=NONNEG,
    )
    for table, (schema, parts) in TABLES.items():
        got_dir = Path(eng.root) / table
        read = spark.read.schema(schema).parquet(str(got_dir))
        rows = read.collect()
        assert len(rows) == ROWS[table]
        ref_dir = tmp_path / "spark" / table
        spark.createDataFrame(rows, read.schema).coalesce(1).write.partitionBy(
            *parts
        ).parquet(str(ref_dir))
        got, ref = _files(got_dir), _files(ref_dir)
        assert {os.path.dirname(p) for p in got} == {
            os.path.dirname(p) for p in ref
        }, table
        assert {
            (text, _fields(dict(kv)[ROW_METADATA])) for text, kv in got.values()
        } == WRITTEN[table], table
        # footer keys and the Spark version stamped there
        assert {
            tuple((k, v) for k, v in kv if k != ROW_METADATA) for _, kv in got.values()
        } == {tuple((k, v) for k, v in kv if k != ROW_METADATA) for _, kv in ref.values()}, table

    assert [r["data_type"] for r in eng.meta().collect()] == [data_type] * 2
    assert [r["data_type"] for r in eng.records().collect()] == [data_type]
    eng.index_cdc()
    assert [r["id"] for r in eng.search(term="zebra", data_type=data_type).collect()] == [good]
    assert eng.meta().filter(F.col("indexed")).select("id").collect()[0]["id"] == good


def test_ingest_crash_before_publish_lists_no_file(spark, tmp_path, monkeypatch):
    """A writer killed between the appender's write and its rename
    leaves only a `.`-staged file: no table lists a new file, reads and
    indexing are unaffected, and a retried ingest is indexed once."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    (first,) = eng.ingest_batch([{"text": "alpha words"}], data_type="t")
    eng.index_cdc()
    tables = ["raw/records", "_meta", "_changelog", "_lineage", "_search_index"]

    def listed():
        return {
            t: sorted(
                spark.read.parquet(f"{eng.root}/{t}").inputFiles()
            )
            for t in tables
        }

    def state():
        meta = sorted((r["id"], r["indexed"]) for r in eng.meta().collect())
        recs = sorted(r["id"] for r in eng.records().collect())
        index = sorted(map(tuple, eng.search_index().collect()))
        return meta, recs, index

    before, state_before = listed(), state()
    real_rename = os.rename

    def killed(src, dst):
        if os.path.basename(src).startswith(".part-"):
            raise OSError("injected crash before publish")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", killed)
    monkeypatch.setattr(os, "remove", lambda path: None)  # a dead writer cleans nothing
    records = [{"text": "beta words"}, {"text": "gamma words"}]
    with pytest.raises(OSError, match="injected crash"):
        eng.ingest_batch(records, data_type="t")
    monkeypatch.undo()

    staged = list(Path(eng.root).rglob(".part-*.parquet"))
    assert len(staged) == 1 and "raw" in staged[0].parts
    assert listed() == before
    eng.index_cdc()
    assert state() == state_before

    retried = eng.ingest_batch(records, data_type="t")
    eng.index_cdc()
    idx = eng.search_index()
    assert idx.groupBy("id", "token").count().filter("count > 1").count() == 0
    assert {r["id"] for r in idx.collect()} == {first, *retried}
    meta = Counter((r["id"], r["indexed"]) for r in eng.meta().collect())
    assert meta == Counter({(i, True): 1 for i in [first, *retried]})


def test_index_cdc_after_an_interrupted_dedup_publish(spark, tmp_path):
    """dedup_zone publishes by renaming raw/records to `.dedup.old` and
    its complete staged copy from `.dedup.tmp` in its place; a writer
    that died between the renames leaves no raw/records. index_cdc and
    ingest_batch roll the copy forward first: the batch is searchable
    and stamped instead of dropped with the checkpoint moved past it,
    and an ingest keeps every earlier record readable."""
    import shutil

    eng = DataLakeEngine(spark, tmp_path / "lake")
    (first,) = eng.ingest_batch([{"text": "alpha"}], data_type="t")
    eng.index_cdc()
    (second,) = eng.ingest_batch([{"text": "beta"}], data_type="t")
    raw = Path(eng.zone("raw")) / "records"

    def interrupt_dedup_publish():
        shutil.copytree(raw, f"{raw}.dedup.tmp")
        raw.rename(f"{raw}.dedup.old")

    interrupt_dedup_publish()
    eng.index_cdc()
    assert raw.exists()
    assert [r["id"] for r in eng.search(term="beta").collect()] == [second]
    assert {r["id"]: r["indexed"] for r in eng.meta().collect()} == {
        first: True,
        second: True,
    }
    # an ingest into that window appends to the rolled-forward records,
    # not to a fresh directory that would hide the staged copy
    interrupt_dedup_publish()
    (third,) = eng.ingest_batch([{"text": "gamma"}], data_type="t")
    assert sorted(p.name for p in raw.parent.iterdir()) == ["records"]
    assert sorted(r["id"] for r in eng.records().collect()) == sorted([first, second, third])


def test_ingest_and_index_cdc_job_counts(spark, tmp_path):
    """A warm ingest_batch runs no Spark job (one for its validation
    collect); one index_cdc drain of one new batch runs at most 10."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    recs = [{"v": i, "text": f"w{i} common"} for i in range(50)]
    eng.ingest_batch(recs, data_type="t", validate=NONNEG)  # warm-up
    eng.index_cdc()
    with WorkWindow(spark) as plain:
        eng.ingest_batch(recs, data_type="t")
    eng.index_cdc()
    with WorkWindow(spark) as validated:
        eng.ingest_batch(recs, data_type="t", validate=NONNEG)
    with WorkWindow(spark) as drained:
        eng.index_cdc()
    assert plain.work()["jobs"] == 0
    assert validated.work()["jobs"] == 1
    assert drained.work()["jobs"] <= 10
    assert eng.search(term="common").count() == 3 * len(recs)


def test_index_cdc_reads_each_micro_batch_once(spark, tmp_path):
    """A micro-batch of n changelog rows reports n input rows: the batch
    is collected once, not re-read by each action of the index step."""
    eng = DataLakeEngine(spark, tmp_path / "lake")
    eng.ingest_batch([{"text": "first"}], data_type="t")
    eng.index_cdc()  # the index exists: every step of the next batch runs
    ids = eng.ingest_batch([{"text": f"doc {i}"} for i in range(7)], data_type="t")
    eng.enable_stream_metrics()
    try:
        eng.index_cdc()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        rows = [
            r["num_input_rows"]
            for r in eng.stream_metrics().collect()
            if r["num_input_rows"]
        ]
    finally:
        eng.disable_stream_metrics()
    assert rows == [len(ids)]
    assert eng.search_index().select("id").distinct().count() == 1 + len(ids)
