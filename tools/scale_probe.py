#!/usr/bin/env python
"""Deterministic 10x fixture (SCALE.md "10x scale probe" sections).

Rebuilds the 10x fixture from sf0.1 — per document: the original, 2
one-word deletions, 1 verbatim copy, 6 word-shuffles (replica near-dup
structure that stresses banding/dedup); per embedding: 10 sigma=0.05
noise replicas (stresses ANN bucket selectivity); events and orders
replicated 10x. All randomness is seeded per row id, so the fixture is
bit-identical across rounds and the numbers are comparable
round-over-round. Remaining sf0.1 tables are copied verbatim so any
registered query runs against the fixture dir. Time queries on it with
the registry's one timing loop:

    SPARK_GRAFT_PROBE_DIR=/tmp/spark_graft_10x python tools/scale_probe.py
    SPARK_GRAFT_SF_DIR=/tmp/spark_graft_10x python tools/timing_sweep.py d04 s18 t29

The probe sets and the z-order file-skipping probe this script ran
before are in `git show 640f93c:tools/scale_probe.py`.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


_SHARDS = 16  # single-file tables scan as ONE Spark task regardless of
# cores (files split at maxPartitionBytes=128MB) — a 4 MB fixture file
# serializes every row-local stage; shard so the probe measures the
# multi-file reality of any real table


def _write_sharded(t: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    n = t.num_rows
    step = (n + _SHARDS - 1) // _SHARDS
    for s in range(_SHARDS):
        chunk = t.slice(s * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(path, f"part-{s:03d}.parquet"))


def _build_documents(out_dir: str) -> None:
    t = pq.read_table(os.path.join(SRC, "documents.parquet"))
    doc_id = t.column("doc_id").to_pylist()
    text = t.column("text").to_pylist()
    lang = t.column("lang").to_pylist()
    source = t.column("source").to_pylist()
    ids, texts, langs, sources, n_chars = [], [], [], [], []
    for d, tx, lg, sc in zip(doc_id, text, lang, source):
        words = tx.split(" ")
        rng = np.random.default_rng(d)
        variants = [tx, tx]  # original + verbatim copy
        for _ in range(2):  # one-word deletions
            if len(words) > 1:
                k = int(rng.integers(0, len(words)))
                variants.append(" ".join(words[:k] + words[k + 1 :]))
            else:
                variants.append(tx)
        for _ in range(6):  # word shuffles
            perm = rng.permutation(len(words))
            variants.append(" ".join(words[i] for i in perm))
        for r, v in enumerate(variants):
            ids.append(d * 10 + r)
            texts.append(v)
            langs.append(lg)
            sources.append(sc)
            n_chars.append(len(v))
    out = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )
    _write_sharded(out, os.path.join(out_dir, "documents.parquet"))


def _build_embeddings(out_dir: str) -> None:
    t = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    vec_id = t.column("vec_id").to_pylist()
    emb = t.column("embedding").to_pylist()
    label = t.column("label").to_pylist()
    ids, vecs, labels = [], [], []
    for v, e, lb in zip(vec_id, emb, label):
        base = np.asarray(e, dtype=np.float32)
        rng = np.random.default_rng(v)
        for r in range(10):
            ids.append(v * 10 + r)
            if r == 0:
                vecs.append(base.tolist())
            else:
                vecs.append(
                    (base + rng.normal(0, 0.05, base.shape).astype(np.float32))
                    .astype(np.float32)
                    .tolist()
                )
            labels.append(lb)
    out = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    _write_sharded(out, os.path.join(out_dir, "embeddings.parquet"))


def _build_events(out_dir: str) -> None:
    """10x events: each row replicated with event_id*10+r, ts shifted by
    r ms, same user/type/value — groups (event_type, day) stay constant
    while rows-per-group grow 10x, the realistic rollup scale-up."""
    t = pq.read_table(os.path.join(SRC, "events.parquet"))
    n = t.num_rows
    idx = np.repeat(np.arange(n), 10)
    r = np.tile(np.arange(10), n)
    ev = t.take(pa.array(idx))
    event_id = pa.array(
        np.asarray(ev.column("event_id")) * 10 + r, pa.int64()
    )
    ts = np.asarray(ev.column("ts").cast(pa.int64())) + r * 1000
    out = pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": ev.column("user_id"),
            "event_type": ev.column("event_type"),
            "value": ev.column("value"),
            "props": ev.column("props"),
        }
    )
    _write_sharded(out, os.path.join(out_dir, "events.parquet"))


def _build_orders(out_dir: str) -> None:
    """10x orders: o_orderkey*10+r keeps exact uniqueness (m05's
    uniqueness check must still pass at 10x); other columns repeat."""
    t = pq.read_table(os.path.join(SRC, "orders.parquet"))
    n = t.num_rows
    idx = np.repeat(np.arange(n), 10)
    r = np.tile(np.arange(10), n)
    od = t.take(pa.array(idx))
    out = pa.table(
        {
            "o_orderkey": pa.array(
                np.asarray(od.column("o_orderkey")) * 10 + r, pa.int64()
            ),
            "o_custkey": od.column("o_custkey"),
            "o_orderstatus": od.column("o_orderstatus"),
            "o_totalprice": od.column("o_totalprice"),
            "o_orderdate": od.column("o_orderdate"),
            "o_orderpriority": od.column("o_orderpriority"),
        }
    )
    _write_sharded(out, os.path.join(out_dir, "orders.parquet"))


def build_fixture(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, ".complete")
    if not os.path.exists(marker):
        _build_documents(out_dir)
        _build_embeddings(out_dir)
        for f in os.listdir(SRC):
            if f.endswith(".parquet") and f not in (
                "documents.parquet",
                "embeddings.parquet",
            ):
                shutil.copy(os.path.join(SRC, f), os.path.join(out_dir, f))
        with open(marker, "w") as fh:
            fh.write("ok\n")
    # round-5 additions (separate marker so pre-existing fixtures gain
    # the new tables without invalidating the doc/emb numbers)
    marker2 = os.path.join(out_dir, ".complete_r5")
    if not os.path.exists(marker2):
        for f in ("events.parquet", "orders.parquet"):
            p = os.path.join(out_dir, f)
            if os.path.isfile(p):
                os.remove(p)  # replace the verbatim 1x copy
            elif os.path.isdir(p):
                shutil.rmtree(p)
        _build_events(out_dir)
        _build_orders(out_dir)
        with open(marker2, "w") as fh:
            fh.write("ok\n")


if __name__ == "__main__":
    out_dir = os.environ.get("SPARK_GRAFT_PROBE_DIR", "/tmp/spark_graft_10x")
    t0 = time.time()
    build_fixture(out_dir)
    print(json.dumps({"fixture": out_dir, "fixture_build_sec": round(time.time() - t0, 1)}))
