"""Seeded input generators for the lake benchmark.

Everything the engine receives is made here from a seed: the ingest
records of the `ingest_index` workload and the fixture tables that the
`analytics` workload's registered plans read. The same seed always gives
byte-identical inputs; no input depends on the clock or on the host.

The table schemas and value domains follow the star-schema fixtures the
registered plans were written against (FIXTURES.md §B): the TPC-H-like
relational tables, the `events` stream table, the `documents` word-soup
corpus (30-word vocabulary, 5% near-duplicates carrying a `dup` token)
and the 64-d unit `embeddings`.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DATA_TYPES = ("sales", "user", "metrics", "generic")

# Analytics fixture size: the relational and events tables at the
# fixtures' sf0.01 row counts, the vector corpus at the sf0.1 count and
# the documents at half of it, so that the text-heavy rows (p06, d18,
# x03) carry real work rather than job-dispatch cost while one run,
# JVM start and warm-up included, stays near 40 s on 4 cores.
FIXTURE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 2_500,
    "embeddings": 2_000,
}
EVENT_USERS = 150
EMB_DIM = 64


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, input stream), so adding a
    stream never shifts the values another stream draws."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-soup documents: 10-100 words from VOCAB; every 20th document
    is a near-duplicate of an earlier one with a `dup` token inserted,
    and a few are exact copies (the dedup rows need both)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i >= 20 and i % 613 == 7:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


# -- ingest_index inputs ---------------------------------------------------


def _payload(rng: np.random.Generator, data_type: str, i: int, text: str) -> dict:
    """One record in the reference's sales/user/metrics/generic shape
    (ingest-data-lambda.py:135-180), nested structs and arrays included,
    plus a free-text `note` that the search index tokenizes."""
    day = f"2024-01-{int(rng.integers(1, 29)):02d}"
    if data_type == "sales":
        items = [
            {
                "product": VOCAB[int(rng.integers(0, len(VOCAB)))],
                "quantity": int(rng.integers(1, 10)),
                "price": round(float(rng.uniform(1, 500)), 2),
            }
            for _ in range(int(rng.integers(1, 4)))
        ]
        body = {
            "date": day,
            "items": items,
            "total": round(sum(x["quantity"] * x["price"] for x in items), 2),
            "customer": {"id": f"CUST-{i:06d}", "region": LANGS[i % 5]},
        }
    elif data_type == "user":
        body = {
            "userId": f"USER-{i:06d}",
            "name": f"user {i}",
            "email": f"user{i}@example.com",
            "preferences": {"theme": ("dark", "light")[i % 2], "notifications": bool(i % 3)},
            "lastLogin": f"{day}T00:00:00Z",
        }
    elif data_type == "metrics":
        body = {
            "timestamp": f"{day}T00:00:00Z",
            "cpu": round(float(rng.uniform(0, 100)), 1),
            "memory": round(float(rng.uniform(0, 100)), 1),
            "disk": round(float(rng.uniform(0, 100)), 1),
            "network": {"in": int(rng.integers(0, 1 << 20)), "out": int(rng.integers(0, 1 << 20))},
        }
    else:
        body = {
            "timestamp": f"{day}T00:00:00Z",
            "sample": bool(i % 2),
            "value": int(rng.integers(0, 100_000)),
            "message": f"generic record {i}",
        }
    body["note"] = text
    return body


def note_texts(seed: int) -> list[str]:
    """The pool of free-text notes the ingest records draw from."""
    return doc_texts(rng_for(seed, "notes"), 400)


def ingest_request(seed: int, k: int, size: int, texts: list[str], warm: bool = False) -> dict:
    """The k-th `ingest_batch` request of `size` records, independent of
    every other request. Each record carries the batch's planted token
    (`zq<seed>x<k>`, or `zq<seed>w<k>` for warm-up batches: alphanumeric
    and absent from VOCAB), so a search for it must return exactly that
    batch's accepted ids. `data_type` rotates across the reference's
    four shapes. `probe` picks the record the client reads back by id."""
    tag = f"{'w' if warm else 'x'}{k}"
    rng = rng_for(seed, f"ingest-{tag}")
    token = f"zq{seed}{tag}"
    data_type = DATA_TYPES[k % len(DATA_TYPES)]
    records = [
        _payload(rng, data_type, j, f"{texts[int(rng.integers(0, len(texts)))]} {token}")
        for j in range(size)
    ]
    probe = int(rng.integers(0, size))
    return {"token": token, "data_type": data_type, "records": records, "probe": probe}


def upsert_slice(seed: int, cycle: int, n_keys: int, n_rows: int) -> list[tuple]:
    """A seeded upsert slice for the curated table: a window of
    `n_rows` consecutive keys at a seeded offset, the last tenth of it
    past the current key range (inserts), the rest updates."""
    rng = rng_for(seed, f"upsert{cycle}")
    start = int(rng.integers(0, n_keys - n_rows + n_rows // 10 + 1))
    return [
        (k, round(float(rng.uniform(0, 1000)), 2), f"c{cycle}")
        for k in range(start, start + n_rows)
    ]


def payload_bytes(records: list[dict]) -> int:
    """Bytes of the JSON payloads as the engine serializes them."""
    return sum(len(json.dumps(r).encode()) for r in records)


# -- analytics fixture -----------------------------------------------------


def _dates(rng, n, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables the registered plans read (catalog.TABLES)."""
    r = FIXTURE_ROWS
    rng = rng_for(seed, "fixture")
    n_c, n_s, n_p, n_o, n_l = (r[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    adjectives = np.array(["small", "red", "blue", "large", "green", "shiny", "old", "steel"])
    nouns = np.array(["ring", "widget", "bolt", "anvil", "gear", "valve", "spring", "bracket"])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": segments[rng.integers(0, 5, n_c)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_p)], " "), nouns[rng.integers(0, 8, n_p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _dates(rng, n_o, "1995-01-01", 2404),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_o)],
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _dates(rng, n_l, "1995-01-02", 2499),
    })
    n_e = r["events"]
    gaps = rng.exponential(30 * 86400 / n_e, n_e)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n_e), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    n_d = r["documents"]
    texts = doc_texts(rng, n_d)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n_v = r["embeddings"]
    vecs = unit_vectors(rng, n_v)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
    })
    return t


def write_fixture(seed: int, sf_dir: Path) -> int:
    """Write the fixture as one parquet file per table (the layout
    catalog.table reads); returns the bytes written."""
    sf_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, tab in fixture_tables(seed).items():
        path = sf_dir / f"{name}.parquet"
        pq.write_table(tab, path)
        total += path.stat().st_size
    return total

