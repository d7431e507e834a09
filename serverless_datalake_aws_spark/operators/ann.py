"""IVF-PQ approximate-nearest-neighbor search — the one implementation.

Every IVF-PQ plan entry in plans/similarity5.py runs through this
module with its oracle-pinned constants (C=8 cells, nprobe=2), so the
DuckDB value oracles guard this exact code path:

- s21 (raw IVF-PQ) and s22 (residual IVF-PQ) are one `ivf_pq_search`
  call each; they differ only in `pq_codebooks(residual=...)`.
- s23 (IVF-PQ + exact rerank) composes the build / probe / score
  stages with the shared exact-L2 and recall@k tails.
- s19/s20 (flat PQ, no coarse quantizer) reuse the stride-sampled
  codebook, the code assignment and the ADC table builder.

The stages stay separate so an index can be built once, persisted and
queried many times (the FAISS deployment lifecycle); SCALE.md
"Round-7: IVF-PQ at honest scale" drives them at 2M vectors / 64 cells
to measure that query cost scales with PROBED CELLS, not corpus size.

Residual vs raw PQ is a property of the codebooks: with
`residual=True` the PQ codes quantize v - centroid(cell) instead of
v, so `ivf_pq_encode` encodes residuals and `ivf_pq_probe` builds one
ADC table per (query, probed cell) from the query's residual w.r.t.
that cell. `ivf_pq_topk` is the same for both.

Determinism contract: codebooks are taken from the data itself (first
n_cells vectors = coarse centroids, s05 convention; every stride-th
vector = PQ codebook rows), and every distance is rounded to 6 dp
before any argmin/sum boundary, so any engine — DuckDB included —
replays cells, codes and rank order bit-identically.

Scale notes:
- ENCODE is one map-only mapInPandas pass over the corpus; the
  D-dim embedding dies inside the batch and (vec_id, cid, m codes)
  crosses the exchange — the PQ compression made literal in the
  shuffle payload. Embarrassingly parallel; runs once per index
  build, not per query.
- PROBE is a driver-built (NQ × nprobe)-row broadcast table; the
  equi-join on cell id IS the inverted-file restriction, so
  candidates outside probed cells never leave the scan.
- ADC scoring is a row-local F.aggregate over the codes array
  indexing the flattened M × K distance table — pure JVM expression,
  no UDF in the scoring hot path.
- Driver-side collects are the coarse centroids, the codebook rows
  and the query sample: n_cells + k_codes + n_queries rows, whatever
  the corpus size.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.functions import vector as VX

try:  # UDF closures must survive worker-side import (cwd ≠ repo root)
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass


def np_round6(a):
    """6dp HALF-AWAY-FROM-ZERO round — what Spark's F.round and
    DuckDB's round() compute. np.round is half-EVEN (banker's), which
    resolves an exact .5 boundary the other way and can flip an encode
    argmin / top-k membership on one engine only. Signed form so
    cosines (negative-capable) round identically to distances."""
    import numpy as np

    a = np.asarray(a)
    return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6


def vectors(rows):
    """(id, embedding) rows → (n, D) float64 matrix."""
    import numpy as np

    return np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])


def _cell_d2(V, CC):
    """Rounded squared L2 from each row of V to each coarse centroid."""
    return np_round6(((V[:, None, :] - CC[None, :, :]) ** 2).sum(2))


def pq_codes(X, Cm):
    """(n, D) vectors → (n, m) int32 codes: per subspace, the nearest
    codebook row by rounded squared L2 (ties → smallest code)."""
    import numpy as np

    _, m, sub = Cm.shape
    Xm = X.reshape(len(X), m, sub)
    d2 = np_round6(
        ((Xm[:, :, None, :] - Cm.transpose(1, 0, 2)[None, :, :, :]) ** 2).sum(
            axis=3
        )
    )
    return d2.argmin(axis=2).astype(np.int32)


def adc_tables(Q, Cm):
    """(n, D) query vectors → (n, K, M) rounded ADC distance tables:
    squared L2 from each query subvector to each codebook row."""
    _, m, sub = Cm.shape
    Qm = Q.reshape(len(Q), m, sub)
    return np_round6(((Qm[:, None, :, :] - Cm[None, :, :, :]) ** 2).sum(axis=3))


def _collect_vectors(df: DataFrame, id_col: str, emb_col: str) -> list:
    return sorted((r[id_col], r[emb_col]) for r in df.select(id_col, emb_col).collect())


def query_sample(
    emb: DataFrame, n: int, id_col: str = "vec_id", emb_col: str = "embedding"
) -> list[tuple[int, list]]:
    """The first n corpus vectors (id < n), sorted by id — the query
    set of every s-family audit and the coarse centroids of IVF.
    Bounded collect: n rows."""
    return _collect_vectors(emb.filter(F.col(id_col) < n), id_col, emb_col)


def stride_sample(
    emb: DataFrame,
    k_codes: int,
    stride: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """PQ codebook seed vectors: the first k_codes ids with
    id % stride == 0, as a (k_eff, D) matrix. Small corpora may yield
    k_eff < k_codes, as the oracles' LIMIT does. Collects k_eff rows:
    a top-k at the root of a collect merges on the driver, shipping k
    rows from EVERY partition; under coalesce(1) it merges in one
    executor task instead, in the same single job and corpus scan."""
    top = (
        emb.filter(F.col(id_col) % stride == 0)
        .select(id_col, emb_col)
        .orderBy(id_col)
        .limit(k_codes)
        .coalesce(1)
    )
    return vectors(_collect_vectors(top, id_col, emb_col))


@dataclass
class PQCodebooks:
    """Driver-held quantizers: coarse centroids + per-subspace PQ
    codebook. Size: n_cells·D + k·D doubles — closure/broadcast-sized
    at any corpus scale (the index's learned state, not its data).
    `residual`: the codes quantize v - centroid(cell), not v."""

    ccids: "object"  # np.ndarray[int64] (n_cells,)
    CC: "object"  # np.ndarray (n_cells, D)
    Cm: "object"  # np.ndarray (k, m, sub)
    m: int
    sub: int
    k: int
    residual: bool = False


def pq_codebooks(
    emb: DataFrame,
    n_cells: int,
    k_codes: int,
    stride: int,
    m: int,
    sub: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    residual: bool = False,
) -> PQCodebooks:
    """Data-derived quantizers (bounded collects: n_cells + k rows,
    whatever the corpus size or partition count).
    With `residual`, each codebook seed is replaced by its residual
    w.r.t. its OWN cell. Production swap-in: k-means centroids (per
    cell for residual) — same shapes."""
    import numpy as np

    coarse_rows = query_sample(emb, n_cells, id_col, emb_col)
    ccids = np.array([c[0] for c in coarse_rows], dtype=np.int64)
    CC = vectors(coarse_rows)
    PQV = stride_sample(emb, k_codes, stride, id_col, emb_col)
    if residual:
        PQV = PQV - CC[_cell_d2(PQV, CC).argmin(axis=1)]
    k_eff = len(PQV)
    Cm = PQV.reshape(k_eff, m, sub)
    return PQCodebooks(
        ccids=ccids, CC=CC, Cm=Cm, m=m, sub=sub, k=k_eff, residual=residual
    )


def ivf_pq_encode(
    emb: DataFrame,
    cb: PQCodebooks,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Index build: each vector → (vec_id, cid, codes[m]). Map-only."""
    import numpy as np
    import pandas as pd

    # unpack ALL fields into locals — referencing cb inside the closure
    # would pickle the whole dataclass (CC/Cm twice) into every task
    ccids, CC, Cm, residual = cb.ccids, cb.CC, cb.Cm, cb.residual

    def _encode(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf[emb_col].values).astype(np.float64)
            ai = _cell_d2(V, CC).argmin(axis=1)  # ties → smallest ccid
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].values,
                    "cid": ccids[ai],
                    "codes": list(pq_codes(V - CC[ai] if residual else V, Cm)),
                }
            )

    return emb.select(id_col, emb_col).mapInPandas(
        _encode, schema="vec_id long, cid long, codes array<int>"
    )


def ivf_pq_probe(
    spark: SparkSession,
    queries: list[tuple[int, list]],
    cb: PQCodebooks,
    nprobe: int,
) -> DataFrame:
    """Per query: its nprobe nearest cells, each with a flattened
    M × K ADC distance table (flat[m * K + code]) — NQ × nprobe rows,
    broadcast-sized. Raw codebooks give every probed cell the same
    table; residual ones a table over q - centroid(cell)."""
    import numpy as np

    ccids, CC = cb.ccids, cb.CC
    Q = vectors(queries)
    qd2c = _cell_d2(Q, CC)
    keys, qvecs = [], []
    for qi, (qid, _) in enumerate(queries):
        order = sorted(range(len(ccids)), key=lambda j: (qd2c[qi, j], ccids[j]))
        for j in order[:nprobe]:
            keys.append((int(qid), int(ccids[j])))
            qvecs.append(Q[qi] - CC[j] if cb.residual else Q[qi])
    dtab = adc_tables(np.stack(qvecs), cb.Cm)  # (NQ·nprobe, K, M)
    return spark.createDataFrame(
        [(qid, cid, t.T.ravel().tolist()) for (qid, cid), t in zip(keys, dtab)],
        "query_id long, cid long, dtab array<double>",
    )


def ivf_pq_topk(
    enc: DataFrame, probe: DataFrame, cb: PQCodebooks, topk: int
) -> DataFrame:
    """Query stage: BroadcastHashJoin on cid (the inverted-file
    restriction), row-local ADC sum, per-query top-k window over
    24-byte triples. Cost ∝ rows of probed cells, not corpus."""
    k_eff, m = cb.k, cb.m
    adc = F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, mm: acc
            + F.element_at(
                F.col("dtab"),
                (mm * k_eff + F.element_at(F.col("codes"), mm + 1) + 1).cast(
                    "int"
                ),
            ),
        ),
        6,
    )
    w = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        enc.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("approx_d2"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= topk)
    )


def exact_l2(emb: DataFrame, qrows: list[tuple[int, list]]) -> DataFrame:
    """Ground truth: exact squared L2 (query_id, neighbor_id, d2) from
    every query to every corpus vector — the brute-force BLAS pass,
    O(N·Q) — self-pairs dropped, d2 rounded to 6 dp."""
    return (
        VX.brute_scores(emb, qrows, metric="l2")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round("d2", 6).alias("d2"))
    )


def exact_topk(scored: DataFrame, topk: int) -> DataFrame:
    """Rows of `scored` ranked per query by (d2, neighbor_id) into
    `erk`, keeping erk <= topk — the exact top-k of an exact_l2 frame,
    or the reranked page of a shortlist joined to one."""
    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return scored.withColumn("erk", F.row_number().over(w)).filter(
        F.col("erk") <= topk
    )


def recall_at_k(
    top: DataFrame, exact: DataFrame, topk: int, col: str = "recall_at_k"
) -> DataFrame:
    """Per query, |top ∩ exact top-k| / topk rounded to 2 dp, as
    column `col` — the audit an approximate index ships with."""
    truth = exact_topk(exact, topk).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        top.select("query_id", "neighbor_id")
        .join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(F.count("hit").cast("double") / F.lit(float(topk)), 2).alias(
                col
            )
        )
    )


def ivf_pq_search(
    spark: SparkSession,
    emb: DataFrame,
    *,
    n_cells: int,
    nprobe: int,
    n_queries: int,
    topk: int,
    m: int,
    sub: int,
    k_codes: int,
    stride: int,
    residual: bool = False,
) -> DataFrame:
    """End-to-end IVF-PQ with per-query recall@k audit — build → probe
    → score → brute-force recall join. Queries are the first n_queries
    corpus vectors (self-query rows excluded), matching the
    s01/s05/s19 convention."""
    cb = pq_codebooks(emb, n_cells, k_codes, stride, m, sub, residual=residual)
    qrows = query_sample(emb, n_queries)
    probe = ivf_pq_probe(spark, qrows, cb, nprobe)
    topk_df = ivf_pq_topk(ivf_pq_encode(emb, cb), probe, cb, topk)
    recall = recall_at_k(topk_df, exact_l2(emb, qrows), topk)
    return (
        topk_df.join(recall, "query_id")
        .select("query_id", "neighbor_id", "approx_d2", "rk", "recall_at_k")
        .orderBy("query_id", "rk")
    )
