#!/usr/bin/env python
"""IVF-PQ at honest scale (VERDICT r6 item 6): 2M vectors, 64 cells.

The s-family's earlier probes (200k vectors, 8 cells) were dominated
by fixed overhead, so the cell restriction never visibly carried the
cost. This probe builds a 2,000,000-vector / 64-dim corpus, encodes it
ONCE into a persisted IVF-PQ index (the FAISS lifecycle — build is
amortized, query is the hot path), then times the QUERY stage
(broadcast probe join + ADC + top-k over the prebuilt index) at
nprobe ∈ {1, 2, 4, 8, 16, 64}, recording per nprobe:

- candidate rows actually scanned (sum of probed-cell sizes),
- query wall time,
- recall@5 against the exact brute-force top-5.

Expected shape: candidates ≈ corpus × nprobe/64 and query wall tracks
candidates, not corpus — nprobe=64 IS the full scan, giving the
in-harness ceiling to compare against.

Fixture (expression-side, seeded, no driver loops): 20,000 base
vectors × 100 noise replicas; vec_id = rep·20000 + base, so the first
64 ids are 64 DISTINCT bases (diverse coarse centroids) and every
query's true top-5 is dominated by its replica cluster.

Usage:  python tools/scale_probe_ann.py
Env:    SPARK_GRAFT_PANN_DIR (default /tmp/sfann), _BASES, _REPS
One JSON line per stage; SCALE.md round-7 records the results.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

OUT = os.environ.get("SPARK_GRAFT_PANN_DIR", "/tmp/sfann")
BASES = int(os.environ.get("SPARK_GRAFT_PANN_BASES", "20000"))
REPS = int(os.environ.get("SPARK_GRAFT_PANN_REPS", "100"))
DIM = 64
N_CELLS = 64
NQ = 20
TOPK = 5


def log(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def build_embeddings(spark) -> None:
    """2M vectors = BASES × REPS, base signal + 1% replica noise."""
    if os.path.exists(f"{OUT}/embeddings"):
        return
    t0 = time.time()
    rows = spark.range(BASES * REPS).select(
        F.col("id").alias("vec_id"),
        F.pmod(F.col("id"), F.lit(BASES)).alias("base"),
        (F.col("id") / F.lit(BASES)).cast("long").alias("rep"),
    )
    dims = F.sequence(F.lit(0), F.lit(DIM - 1))
    base_component = lambda d: (  # noqa: E731
        F.pmod(F.xxhash64(F.col("base"), d), F.lit(2000)) / F.lit(1000.0)
        - F.lit(1.0)
    )
    noise = lambda d: (  # noqa: E731
        F.pmod(F.xxhash64(F.col("rep"), F.col("base"), d), F.lit(200))
        / F.lit(10000.0)
    )
    emb = rows.select(
        "vec_id",
        F.transform(dims, lambda d: (base_component(d) + noise(d)).cast("float"))
        .alias("embedding"),
    )
    emb.repartition(64).write.mode("overwrite").parquet(f"{OUT}/embeddings")
    log({"stage": "build_embeddings", "rows": BASES * REPS, "sec": round(time.time() - t0, 1)})


def main() -> None:
    from serverless_datalake_aws_spark.operators.ann import (
        exact_l2,
        exact_topk,
        ivf_pq_encode,
        ivf_pq_probe,
        ivf_pq_topk,
        pq_codebooks,
    )
    from serverless_datalake_aws_spark.session import get_session

    spark = get_session(app_name="scale_probe_ann")
    spark.sparkContext.setLogLevel("ERROR")
    build_embeddings(spark)
    emb = spark.read.parquet(f"{OUT}/embeddings")

    # ---- index build (once; amortized in production) ----------------
    t0 = time.time()
    cb = pq_codebooks(emb, N_CELLS, k_codes=16, stride=37, m=8, sub=8)
    if not os.path.exists(f"{OUT}/index/_SUCCESS"):
        ivf_pq_encode(emb, cb).repartition(64).write.mode("overwrite").parquet(
            f"{OUT}/index"
        )
    enc = spark.read.parquet(f"{OUT}/index")
    n = enc.count()
    cells = {r["cid"]: r["n"] for r in enc.groupBy("cid").agg(F.count("*").alias("n")).collect()}
    log(
        {
            "stage": "index_build",
            "rows": n,
            "n_cells_used": len(cells),
            "cell_min": min(cells.values()),
            "cell_max": max(cells.values()),
            "sec": round(time.time() - t0, 1),
        }
    )

    # ---- query set + exact ground truth ------------------------------
    qids = [(i * 99991) % (BASES * REPS) for i in range(NQ)]
    qrows = sorted(
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    )
    t0 = time.time()
    truth: dict[int, set[int]] = {}
    for r in exact_topk(exact_l2(emb, qrows), TOPK).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    log({"stage": "brute_force_truth", "sec": round(time.time() - t0, 1)})

    # ---- the experiment: query cost vs probed cells ------------------
    import numpy as np

    qvec = {qid: np.asarray(v, dtype=np.float64) for qid, v in qrows}
    RERANK = 100  # exact-rerank depth (s20's recovery stage)
    for nprobe in (1, 2, 4, 8, 16, 64):
        probe = ivf_pq_probe(spark, qrows, cb, nprobe)
        probed = [(r["query_id"], r["cid"]) for r in probe.select("query_id", "cid").collect()]
        candidates = sum(cells.get(cid, 0) for _, cid in probed)
        t0 = time.time()
        # ADC shortlist of RERANK per query (the scan the cell
        # restriction bounds), then exact-L2 rerank of the shortlist —
        # NQ × RERANK exact distances, corpus-size-independent. Raw
        # ADC top-5 is also scored: with 100 near-identical replicas
        # per cluster sharing PQ codes, ADC ties make it ~random
        # within-cluster — the measured case FOR the rerank stage.
        shortlist = ivf_pq_topk(enc, probe, cb, RERANK).collect()
        cand_ids = list({r["neighbor_id"] for r in shortlist})
        cand_vecs = {
            r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.filter(F.col("vec_id").isin(cand_ids)).collect()
        }
        by_q: dict[int, list] = {}
        for r in sorted(shortlist, key=lambda r: (r["query_id"], r["rk"])):
            by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        got5: dict[int, set[int]] = {}
        got5_rr: dict[int, set[int]] = {}
        for q, nbrs in by_q.items():
            got5[q] = set(nbrs[:TOPK])  # raw ADC order
            exact_d = sorted(
                (float(((qvec[q] - cand_vecs[nb]) ** 2).sum()), nb)
                for nb in nbrs
            )
            got5_rr[q] = {nb for _, nb in exact_d[:TOPK]}
        wall = time.time() - t0
        recall = sum(
            len(got5.get(q, set()) & truth.get(q, set())) / TOPK for q in truth
        ) / len(truth)
        recall_rr = sum(
            len(got5_rr.get(q, set()) & truth.get(q, set())) / TOPK
            for q in truth
        ) / len(truth)
        log(
            {
                "stage": "query",
                "nprobe": nprobe,
                "probed_cell_fraction": round(nprobe / N_CELLS, 4),
                "candidates": candidates,
                # per-query average fraction of the corpus scanned
                "candidate_fraction": round(candidates / (len(qrows) * n), 4),
                "sec": round(wall, 2),
                "recall_at_5_adc": round(recall, 3),
                "recall_at_5_reranked": round(recall_rr, 3),
            }
        )


if __name__ == "__main__":
    main()
