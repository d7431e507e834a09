"""Product-quantization ANN (SURVEY §2.11 similarity-search surface).

PQ is the memory side of the ANN scale story the s-family already
covers for compute (LSH buckets s02, IVF cells s05, multiprobe s17):
a 64-dim float32 vector (256 B) compresses to M=8 one-byte codes —
32× — so a 100 TB embedding corpus's codes fit in ~3 TB and the ADC
scan reads codes, never vectors. Codebooks here are deterministic
(subvectors of K stride-sampled corpus vectors — the same 'trained index
rides the closure' convention as s05's IVF centroids); production
swaps in k-means per subspace, same shapes.

Everything is bit-replayable in SQL: distances are rounded to 6 dp
BEFORE the argmin/sum so both engines tie identically.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from serverless_datalake_aws_spark.catalog import table
from serverless_datalake_aws_spark.operators.ann import (
    adc_tables,
    exact_l2,
    exact_topk,
    ivf_pq_encode,
    ivf_pq_probe,
    ivf_pq_search,
    ivf_pq_topk,
    np_round6,
    pq_codebooks,
    pq_codes,
    query_sample,
    recall_at_k,
    stride_sample,
    vectors,
)
from serverless_datalake_aws_spark.plans import query

try:  # UDF closures must survive worker-side import (cwd ≠ repo root)
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

_PQ_K = 16  # centroids per subspace (codebook rows)
_PQ_STRIDE = 37  # codebook seeds: first K of vec_id % STRIDE == 0 (id-spread)
_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (8 × 8 = 64)
_PQ_NQ = 10  # query set: vec_id < 10
_PQ_TOPK = 5

# SQL fragments: subvector m of a list column (DuckDB list_slice is
# 1-based inclusive), and squared L2 via the dot-product identity —
# rounded to 6 dp, which absorbs the ~1e-12 summation-order gap vs
# numpy's direct (a-b)² sum.
_SUB = (
    "list_transform(list_slice({col}, {m} * 8 + 1, {m} * 8 + 8),"
    " x -> CAST(x AS DOUBLE))"
)
_D2 = (
    "round(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}), 6)"
)

_PQ_ORACLE = f"""
    WITH sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
    cents AS (SELECT vec_id AS k, embedding AS cemb FROM embeddings
              WHERE vec_id % {_PQ_STRIDE} = 0 ORDER BY vec_id LIMIT {_PQ_K}),
    csub AS (
        SELECT c.k, s.m, {_SUB.format(col="c.cemb", m="s.m")} AS cv
        FROM cents c CROSS JOIN sub s),
    psub AS (
        SELECT e.vec_id, s.m, {_SUB.format(col="e.embedding", m="s.m")} AS v
        FROM embeddings e CROSS JOIN sub s),
    pdist AS (
        SELECT p.vec_id, p.m, c.k, {_D2.format(a="p.v", b="c.cv")} AS d2
        FROM psub p JOIN csub c ON p.m = c.m),
    codes AS (
        SELECT vec_id, m, k AS code FROM pdist
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) = 1),
    qsub AS (
        SELECT vec_id AS query_id, m, v FROM psub WHERE vec_id < {_PQ_NQ}),
    qdist AS (
        SELECT q.query_id, q.m, c.k, {_D2.format(a="q.v", b="c.cv")} AS qd2
        FROM qsub q JOIN csub c ON q.m = c.m),
    approx AS (
        SELECT qd.query_id, c.vec_id AS neighbor_id,
               round(sum(qd.qd2), 6) AS approx_d2
        FROM codes c
        JOIN qdist qd ON qd.m = c.m AND qd.k = c.code
        WHERE c.vec_id <> qd.query_id
        GROUP BY qd.query_id, c.vec_id)
    SELECT query_id, neighbor_id, approx_d2,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS rk
          FROM approx)
    WHERE rk <= {_PQ_TOPK}
    ORDER BY query_id, rk
"""


def _pq_scored(emb: DataFrame, qrows: list) -> DataFrame:
    """ADC-scored (query_id, neighbor_id, approx_d2) triples for the
    whole corpus, self-pairs excluded — the shared PQ scan behind s19
    (top-k) and s20 (recall audit + rerank): the stride-sampled
    codebook and query ADC tables of operators/ann.py, with encode and
    ADC fused into one joinless map pass (codes never leave the
    batch)."""
    import numpy as np
    import pandas as pd

    Cm = stride_sample(emb, _PQ_K, _PQ_STRIDE).reshape(-1, _PQ_M, _PQ_SUB)
    qids = np.array([q[0] for q in qrows], dtype=np.int64)
    dtab = adc_tables(vectors(qrows), Cm).transpose(0, 2, 1)  # (Q, M, K)

    def _encode_adc(it):
        for pdf in it:
            if not len(pdf):
                continue
            codes = pq_codes(np.stack(pdf["embedding"].values).astype(np.float64), Cm)
            acc = np.zeros((len(pdf), len(qids)), dtype=np.float64)
            for m in range(_PQ_M):
                acc += dtab[:, m, :][:, codes[:, m]].T  # (n, Q)
            yield pd.DataFrame(
                {
                    "neighbor_id": np.repeat(pdf["vec_id"].values, len(qids)),
                    "query_id": np.tile(qids, len(pdf)),
                    "approx_d2": np_round6(acc).ravel(),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        _encode_adc, schema="neighbor_id long, query_id long, approx_d2 double"
    )
    return scored.filter(F.col("neighbor_id") != F.col("query_id"))


@query("s19_pq_adc_ann", oracle=_PQ_ORACLE)
def s19_pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    each vector is encoded as M=8 one-byte codes (nearest codebook
    centroid per 8-dim subspace); a query precomputes its M×K distance
    table and every corpus point's approximate distance is a TABLE
    LOOKUP sum — no vector arithmetic in the scan. Encode + ADC run in
    ONE map-only mapInPandas pass (codes never leave the batch); the
    only shuffle is the final top-k window over (query, neighbor,
    dist) triples — 24 bytes/row, query-partitioned.

    At 100 TB: codes are 32× smaller than vectors, the codebook and
    distance tables are driver-bounded broadcasts (K·M doubles per
    query — the trained-index-rides-the-closure convention shared with
    s05's IVF centroids), and the scan is embarrassingly parallel.
    Compose with s05's IVF cells for IVF-PQ: prune cells first, ADC
    within. Distances are rounded to 6 dp before the argmin (encode)
    and after the sum (ADC) so the DuckDB oracle reproduces codes,
    distances, and rank order exactly; ranking ties break on
    neighbor_id in both engines."""
    emb = table(spark, sf_dir, "embeddings")
    w = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        _pq_scored(emb, query_sample(emb, _PQ_NQ))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "approx_d2", "rk")
        .orderBy("query_id", "rk")
    )


_S20_SHORT = 50  # rerank shortlist size


_S20_ORACLE = f"""
    WITH sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
    cents AS (SELECT vec_id AS k, embedding AS cemb FROM embeddings
              WHERE vec_id % {_PQ_STRIDE} = 0 ORDER BY vec_id LIMIT {_PQ_K}),
    csub AS (
        SELECT c.k, s.m, {_SUB.format(col="c.cemb", m="s.m")} AS cv
        FROM cents c CROSS JOIN sub s),
    psub AS (
        SELECT e.vec_id, s.m, {_SUB.format(col="e.embedding", m="s.m")} AS v
        FROM embeddings e CROSS JOIN sub s),
    pdist AS (
        SELECT p.vec_id, p.m, c.k, {_D2.format(a="p.v", b="c.cv")} AS d2
        FROM psub p JOIN csub c ON p.m = c.m),
    codes AS (
        SELECT vec_id, m, k AS code FROM pdist
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) = 1),
    qsub AS (
        SELECT vec_id AS query_id, m, v FROM psub WHERE vec_id < {_PQ_NQ}),
    qdist AS (
        SELECT q.query_id, q.m, c.k, {_D2.format(a="q.v", b="c.cv")} AS qd2
        FROM qsub q JOIN csub c ON q.m = c.m),
    pq_rk AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS rk
        FROM (
            SELECT qd.query_id, c.vec_id AS neighbor_id,
                   round(sum(qd.qd2), 6) AS approx_d2
            FROM codes c
            JOIN qdist qd ON qd.m = c.m AND qd.k = c.code
            WHERE c.vec_id <> qd.query_id
            GROUP BY qd.query_id, c.vec_id)),
    qfull AS (SELECT vec_id AS query_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id < {_PQ_NQ}),
    efull AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
              FROM embeddings),
    exact AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_D2.format(a="e.ev", b="q.qv")} AS d2
        FROM efull e CROSS JOIN qfull q
        WHERE e.vec_id <> q.query_id),
    exact_top AS (
        SELECT query_id, neighbor_id FROM exact
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY d2, neighbor_id) <= {_PQ_TOPK}),
    rerank_top AS (
        SELECT s.query_id, s.neighbor_id FROM pq_rk s
        JOIN exact x ON x.query_id = s.query_id
                    AND x.neighbor_id = s.neighbor_id
        WHERE s.rk <= {_S20_SHORT}
        QUALIFY row_number() OVER (
            PARTITION BY s.query_id ORDER BY x.d2, s.neighbor_id)
            <= {_PQ_TOPK}),
    r1 AS (
        SELECT p.query_id,
               round(count(e.neighbor_id) / {_PQ_TOPK}.0, 2) AS recall_pq
        FROM (SELECT query_id, neighbor_id FROM pq_rk WHERE rk <= {_PQ_TOPK}) p
        LEFT JOIN exact_top e
          ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
        GROUP BY p.query_id),
    r2 AS (
        SELECT r.query_id,
               round(count(e.neighbor_id) / {_PQ_TOPK}.0, 2) AS recall_rerank
        FROM rerank_top r
        LEFT JOIN exact_top e
          ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
        GROUP BY r.query_id)
    SELECT r1.query_id, r1.recall_pq, r2.recall_rerank
    FROM r1 JOIN r2 ON r1.query_id = r2.query_id
    ORDER BY r1.query_id
"""


@query("s20_pq_recall_audit", oracle=_S20_ORACLE)
def s20_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the PQ index — the s11/s14 contract (an
    approximate index ships WITH its measured recall), with the
    production fix demonstrated in the same result: per query,
    `recall_pq` = |raw PQ top-5 ∩ exact-L2 top-5| / 5 and
    `recall_rerank` = the same after PQ→EXACT RERANK (shortlist the
    PQ top-50, re-order by true distance, keep 5). On this corpus —
    near-random 64-dim vectors, the distance-concentration worst case
    — raw 8-byte PQ recall sits ≈0.15 (cf. s11's LSH ≈0.2; s14's
    full-width int8 ≈1.0), and the rerank stage recovers it; that
    two-stage shape (cheap code scan prunes 100 TB to a shortlist,
    exact pass touches shortlist×queries vectors only) is how PQ is
    actually deployed (FAISS IVFPQ + refine).

    The exact leg is the brute-force BLAS pass (brute_scores
    metric='l2') — O(N·Q), rides the fixed query sample; both legs
    shuffle only (query, neighbor, dist) triples."""
    emb = table(spark, sf_dir, "embeddings")
    qrows = query_sample(emb, _PQ_NQ)
    # cache+count: exact feeds THREE consumers (two recall truths + the
    # rerank join) and pq_rk feeds two more — unmaterialized, the
    # O(N*Q) BLAS pass would execute repeatedly (the d05 trap)
    exact = exact_l2(emb, qrows).cache()
    exact.count()
    wpq = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    pq_rk = _pq_scored(emb, qrows).withColumn(
        "rk", F.row_number().over(wpq)
    ).cache()
    pq_rk.count()
    pq_top = pq_rk.filter(F.col("rk") <= _PQ_TOPK)
    rerank_top = exact_topk(
        pq_rk.filter(F.col("rk") <= _S20_SHORT)
        .select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"]),
        _PQ_TOPK,
    )
    out = (
        recall_at_k(pq_top, exact, _PQ_TOPK, "recall_pq")
        .join(
            recall_at_k(rerank_top, exact, _PQ_TOPK, "recall_rerank"),
            "query_id",
        )
        .orderBy("query_id")
    )
    rows = out.collect()  # per-query rows: tiny
    exact.unpersist()
    pq_rk.unpersist()
    return spark.createDataFrame(rows, out.schema)


_IVFPQ_C = 8  # coarse cells (first C vectors = centroids, s05 convention)
_IVFPQ_NPROBE = 2  # cells searched per query
_IVFPQ_ARGS = dict(
    n_cells=_IVFPQ_C,
    nprobe=_IVFPQ_NPROBE,
    n_queries=_PQ_NQ,
    topk=_PQ_TOPK,
    m=_PQ_M,
    sub=_PQ_SUB,
    k_codes=_PQ_K,
    stride=_PQ_STRIDE,
)

_S21_ORACLE = f"""
    WITH sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
    evec AS (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
    coarse AS (SELECT vec_id AS ccid, v AS cv FROM evec
               WHERE vec_id < {_IVFPQ_C}),
    cdist AS (
        SELECT e.vec_id, c.ccid, {_D2.format(a="e.v", b="c.cv")} AS cd2
        FROM evec e CROSS JOIN coarse c),
    cell AS (
        SELECT vec_id, ccid AS cid FROM cdist
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY cd2, ccid) = 1),
    probes AS (
        SELECT vec_id AS query_id, ccid AS cid FROM cdist
        WHERE vec_id < {_PQ_NQ}
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY cd2, ccid) <= {_IVFPQ_NPROBE}),
    cents AS (SELECT vec_id AS k, embedding AS cemb FROM embeddings
              WHERE vec_id % {_PQ_STRIDE} = 0 ORDER BY vec_id LIMIT {_PQ_K}),
    csub AS (
        SELECT c.k, s.m, {_SUB.format(col="c.cemb", m="s.m")} AS cv
        FROM cents c CROSS JOIN sub s),
    psub AS (
        SELECT e.vec_id, s.m, {_SUB.format(col="e.embedding", m="s.m")} AS v
        FROM embeddings e CROSS JOIN sub s),
    pdist AS (
        SELECT p.vec_id, p.m, c.k, {_D2.format(a="p.v", b="c.cv")} AS d2
        FROM psub p JOIN csub c ON p.m = c.m),
    codes AS (
        SELECT vec_id, m, k AS code FROM pdist
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) = 1),
    qsub AS (
        SELECT vec_id AS query_id, m, v FROM psub WHERE vec_id < {_PQ_NQ}),
    qdist AS (
        SELECT q.query_id, q.m, c.k, {_D2.format(a="q.v", b="c.cv")} AS qd2
        FROM qsub q JOIN csub c ON q.m = c.m),
    cand AS (
        SELECT cl.vec_id, p.query_id
        FROM cell cl JOIN probes p ON cl.cid = p.cid
        WHERE cl.vec_id <> p.query_id),
    approx AS (
        SELECT ca.query_id, c.vec_id AS neighbor_id,
               round(sum(qd.qd2), 6) AS approx_d2
        FROM cand ca
        JOIN codes c ON c.vec_id = ca.vec_id
        JOIN qdist qd ON qd.query_id = ca.query_id
                     AND qd.m = c.m AND qd.k = c.code
        GROUP BY ca.query_id, c.vec_id),
    topk AS (
        SELECT query_id, neighbor_id, approx_d2, CAST(rk AS BIGINT) AS rk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS rk
              FROM approx)
        WHERE rk <= {_PQ_TOPK}),
    qfull AS (SELECT vec_id AS query_id, v AS qv FROM evec
              WHERE vec_id < {_PQ_NQ}),
    exact AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_D2.format(a="e.v", b="q.qv")} AS d2
        FROM evec e CROSS JOIN qfull q
        WHERE e.vec_id <> q.query_id),
    exact_top AS (
        SELECT query_id, neighbor_id FROM exact
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY d2, neighbor_id) <= {_PQ_TOPK}),
    recall AS (
        SELECT t.query_id,
               round(count(e.neighbor_id) / {_PQ_TOPK}.0, 2) AS recall_at_k
        FROM topk t
        LEFT JOIN exact_top e
          ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY t.query_id)
    SELECT t.query_id, t.neighbor_id, t.approx_d2, t.rk, r.recall_at_k
    FROM topk t JOIN recall r ON t.query_id = r.query_id
    ORDER BY t.query_id, t.rk
"""


@query("s21_ivf_pq_ann", oracle=_S21_ORACLE)
def s21_ivf_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS deployment shape both s05 and s19 gesture at,
    composed as ONE index: the coarse quantizer restricts each query's
    search to its {_IVFPQ_NPROBE} nearest of {_IVFPQ_C} inverted-file
    cells, and within those cells candidates are scored by PQ
    asymmetric distance (table-lookup sum over M=8 one-byte codes) —
    vectors appear in exactly one map pass and never again.

    Plan shape (gated in tests/test_plans.py::test_s21_probe_join):
    1. ENCODE (mapInPandas, map-only): each vector → (cid, codes[8]).
       The 256-byte embedding dies inside the batch; what crosses the
       exchange is 1+1+8 small ints — the 32x PQ compression made
       literal in the shuffle payload.
    2. PROBE JOIN (BroadcastHashJoin on cid): the query-side probe
       table (query_id, cid, ADC distance table) has NQ x nprobe rows
       and broadcasts; the equi-join on cell id IS the inverted-file
       restriction — candidates outside probed cells never leave the
       scan, visible in the plan as the join key.
    3. ADC SCORE (row-local F.aggregate over the codes array indexing
       the flattened M x K distance table) — pure JVM expression, no
       UDF in the scoring hot path.
    4. TOP-K window per query over 24-byte triples.
    5. RECALL AUDIT: brute-force exact-L2 top-k (VX.brute_scores, the
       s01/s20 BLAS pass) joined back as a per-query recall@k column —
       an approximate index ships WITH its measured recall (s11/s14
       contract). Raw nprobe={_IVFPQ_NPROBE}/{_IVFPQ_C} IVF-PQ recall
       on near-random 64-dim vectors is low (distance concentration +
       cell misses); s20's rerank stage is the production recovery.

    At 100 TB: the encode pass is embarrassingly parallel; codebooks
    (C + K·M doubles) and per-query tables ride the closure/broadcast
    exactly like s05/s19; per-cell candidate lists are ~N·nprobe/C so
    the probe join's fact side shrinks {_IVFPQ_C}/{_IVFPQ_NPROBE}x
    before any shuffle. Production upgrades, same shapes: k-means
    codebooks, residual (v - cell centroid) PQ encoding, s20 rerank.

    All distances round to 6 dp before every argmin/sum boundary so
    DuckDB replays cells, codes, probes, distances, and rank order
    bit-identically (cf. similarity5 module docstring)."""
    return ivf_pq_search(
        spark, table(spark, sf_dir, "embeddings"), **_IVFPQ_ARGS
    )


_S22_ORACLE = f"""
    WITH sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
    evec AS (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
    coarse AS (SELECT vec_id AS ccid, v AS cv FROM evec
               WHERE vec_id < {_IVFPQ_C}),
    cdist AS (
        SELECT e.vec_id, c.ccid, {_D2.format(a="e.v", b="c.cv")} AS cd2
        FROM evec e CROSS JOIN coarse c),
    cell AS (
        SELECT vec_id, ccid AS cid FROM cdist
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY cd2, ccid) = 1),
    probes AS (
        SELECT vec_id AS query_id, ccid AS cid FROM cdist
        WHERE vec_id < {_PQ_NQ}
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY cd2, ccid) <= {_IVFPQ_NPROBE}),
    resid AS (
        SELECT e.vec_id, cl.cid,
               list_transform(generate_series(1, 64),
                              i -> e.v[i] - c.cv[i]) AS r
        FROM evec e
        JOIN cell cl ON cl.vec_id = e.vec_id
        JOIN coarse c ON c.ccid = cl.cid),
    cents AS (SELECT vec_id AS k FROM embeddings
              WHERE vec_id % {_PQ_STRIDE} = 0 ORDER BY vec_id LIMIT {_PQ_K}),
    csub AS (
        SELECT ct.k, s.m,
               list_slice(r.r, s.m * 8 + 1, s.m * 8 + 8) AS cv
        FROM cents ct
        JOIN resid r ON r.vec_id = ct.k
        CROSS JOIN sub s),
    psub AS (
        SELECT r.vec_id, s.m,
               list_slice(r.r, s.m * 8 + 1, s.m * 8 + 8) AS v
        FROM resid r CROSS JOIN sub s),
    pdist AS (
        SELECT p.vec_id, p.m, c.k, {_D2.format(a="p.v", b="c.cv")} AS d2
        FROM psub p JOIN csub c ON p.m = c.m),
    codes AS (
        SELECT vec_id, m, k AS code FROM pdist
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) = 1),
    qres AS (
        SELECT p.query_id, p.cid,
               list_transform(generate_series(1, 64),
                              i -> q.v[i] - c.cv[i]) AS qr
        FROM probes p
        JOIN evec q ON q.vec_id = p.query_id
        JOIN coarse c ON c.ccid = p.cid),
    qsub AS (
        SELECT qr.query_id, qr.cid, s.m,
               list_slice(qr.qr, s.m * 8 + 1, s.m * 8 + 8) AS v
        FROM qres qr CROSS JOIN sub s),
    qdist AS (
        SELECT q.query_id, q.cid, q.m, c.k,
               {_D2.format(a="q.v", b="c.cv")} AS qd2
        FROM qsub q JOIN csub c ON q.m = c.m),
    cand AS (
        SELECT cl.vec_id, p.query_id, p.cid
        FROM cell cl JOIN probes p ON cl.cid = p.cid
        WHERE cl.vec_id <> p.query_id),
    approx AS (
        SELECT ca.query_id, c.vec_id AS neighbor_id,
               round(sum(qd.qd2), 6) AS approx_d2
        FROM cand ca
        JOIN codes c ON c.vec_id = ca.vec_id
        JOIN qdist qd ON qd.query_id = ca.query_id AND qd.cid = ca.cid
                     AND qd.m = c.m AND qd.k = c.code
        GROUP BY ca.query_id, c.vec_id),
    topk AS (
        SELECT query_id, neighbor_id, approx_d2, CAST(rk AS BIGINT) AS rk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS rk
              FROM approx)
        WHERE rk <= {_PQ_TOPK}),
    qfull AS (SELECT vec_id AS query_id, v AS qv FROM evec
              WHERE vec_id < {_PQ_NQ}),
    exact AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_D2.format(a="e.v", b="q.qv")} AS d2
        FROM evec e CROSS JOIN qfull q
        WHERE e.vec_id <> q.query_id),
    exact_top AS (
        SELECT query_id, neighbor_id FROM exact
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY d2, neighbor_id) <= {_PQ_TOPK}),
    recall AS (
        SELECT t.query_id,
               round(count(e.neighbor_id) / {_PQ_TOPK}.0, 2) AS recall_at_k
        FROM topk t
        LEFT JOIN exact_top e
          ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY t.query_id)
    SELECT t.query_id, t.neighbor_id, t.approx_d2, t.rk, r.recall_at_k
    FROM topk t JOIN recall r ON t.query_id = r.query_id
    ORDER BY t.query_id, t.rk
"""


@query("s22_ivfpq_residual_ann", oracle=_S22_ORACLE)
def s22_ivfpq_residual_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the actual FAISS `IVFPQ` index
    (s21's docstring names it as the production refinement): PQ codes
    quantize v - centroid(cell) rather than v itself, because residuals
    concentrate around the origin once the coarse quantizer has
    absorbed the between-cell variance, so the same code budget spends
    its resolution on what the cell DIDN'T explain. The query side
    mirrors it: each probed cell gets its own ADC table built from the
    query's residual w.r.t. THAT cell (q - centroid(cell)) — the
    per-(query, cell) table is the structural difference from s21,
    where one table served every probe.

    The code path is s21's — `ivf_pq_search` over residual codebooks
    (`pq_codebooks(residual=True)`) — so the plan shape is too: one
    map-only encode pass (assign + residual + codes; vectors die in
    the batch), a BroadcastHashJoin on cell id against the
    (query_id, cid, dtab) probe table — now one row per probed cell
    with a cell-specific table — row-local F.aggregate ADC, top-k
    window, and the brute-force recall@k audit column.

    At 100 TB nothing changes vs s21: the probe broadcast grows to
    NQ x nprobe x (M·K doubles) — still driver-bounded — and the
    residual subtraction is per-row arithmetic inside the encode batch.
    Codebooks stay deterministic (residuals of the stride-sampled
    vectors, each w.r.t. its own cell); production swaps in per-cell
    k-means, same shapes. Rounding discipline identical to s19/s21, so
    DuckDB replays cells, residuals, codes, probes, and ranks
    bit-identically."""
    return ivf_pq_search(
        spark, table(spark, sf_dir, "embeddings"), residual=True, **_IVFPQ_ARGS
    )


# ---------------------------------------------------------------------------
# s23: IVF-PQ + exact rerank — the full production serving shape
# ---------------------------------------------------------------------------

_S23_R = 20  # ADC shortlist depth fed to the exact rerank

# Reuse s21's entire CTE chain up to the ADC scores (`approx`) and
# replace the tail: shortlist by ADC order, exact-L2 rerank of the
# shortlist, top-k by exact distance, recall vs the exact top-k.
_S23_ORACLE = _S21_ORACLE[: _S21_ORACLE.index("    topk AS (")] + f"""    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS ark
            FROM approx)
        WHERE ark <= {_S23_R}),
    qfull AS (SELECT vec_id AS query_id, v AS qv FROM evec
              WHERE vec_id < {_PQ_NQ}),
    exact AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_D2.format(a="e.v", b="q.qv")} AS d2
        FROM evec e CROSS JOIN qfull q
        WHERE e.vec_id <> q.query_id),
    rerank AS (
        SELECT s.query_id, s.neighbor_id, x.d2 AS exact_d2
        FROM shortlist s
        JOIN exact x ON x.query_id = s.query_id
                    AND x.neighbor_id = s.neighbor_id),
    topr AS (
        SELECT query_id, neighbor_id, exact_d2, CAST(rk AS BIGINT) AS rk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY exact_d2, neighbor_id) AS rk
              FROM rerank)
        WHERE rk <= {_PQ_TOPK}),
    exact_top AS (
        SELECT query_id, neighbor_id FROM exact
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY d2, neighbor_id) <= {_PQ_TOPK}),
    recall AS (
        SELECT t.query_id,
               round(count(e.neighbor_id) / {_PQ_TOPK}.0, 2) AS recall_at_k
        FROM topr t
        LEFT JOIN exact_top e
          ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY t.query_id)
    SELECT t.query_id, t.neighbor_id, t.exact_d2, t.rk, r.recall_at_k
    FROM topr t JOIN recall r ON t.query_id = r.query_id
    ORDER BY t.query_id, t.rk
"""


def s23_serving_plan(spark: SparkSession, sf_dir: str):
    """Build s23's LAZY serving plan; returns (out, exact_cached).

    Split out so the plan gate (tests/test_plans.py::
    test_s23_rerank_joins_shortlist_not_corpus) can explain the real
    join structure: the registered query materializes the tiny result
    and unpersists the cached exact leg, which leaves only a
    Scan ExistingRDD behind — invisible to a plan audit. The caller
    owns `exact_cached` and must unpersist it after materializing."""
    emb = table(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, _IVFPQ_C, _PQ_K, _PQ_STRIDE, _PQ_M, _PQ_SUB)
    qrows = query_sample(emb, _PQ_NQ)
    probe = ivf_pq_probe(spark, qrows, cb, _IVFPQ_NPROBE)
    shortlist = ivf_pq_topk(ivf_pq_encode(emb, cb), probe, cb, _S23_R)
    # cached: feeds the rerank join AND the recall truth
    exact = exact_l2(emb, qrows).cache()
    exact.count()
    topr = exact_topk(
        shortlist.select("query_id", "neighbor_id").join(
            exact, ["query_id", "neighbor_id"]
        ),
        _PQ_TOPK,
    )
    out = (
        topr.join(recall_at_k(topr, exact, _PQ_TOPK), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.col("d2").alias("exact_d2"),
            F.col("erk").cast("long").alias("rk"),
            "recall_at_k",
        )
        .orderBy("query_id", "rk")
    )
    return out, exact


@query("s23_ivfpq_rerank", oracle=_S23_ORACLE)
def s23_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact rerank — the complete FAISS serving shape, each
    stage earning its place (measured at 2M vectors in SCALE.md r7:
    raw ADC recall@5 = 0.05 because 16 codewords/subspace cannot
    separate near-identical cluster members; exact rerank of the ADC
    top-{_S23_R} recovers 1.00 for NQ × {_S23_R} exact distances —
    corpus-size-independent):

    1. s21's cell-restricted ADC scan produces a top-{_S23_R}
       SHORTLIST per query (IVF bounds the scan, PQ bounds memory).
    2. The shortlist joins back to true embeddings for exact L2 —
       |shortlist| lookups, never a corpus rescan at serving time
       (here the exact leg reuses the recall audit's brute pass, so
       one plan serves rerank and truth; the probe measured the
       candidates-only variant).
    3. Final order and recall@{_PQ_TOPK} come from EXACT distances —
       PQ quantization error cannot reorder the returned page.

    Oracle: s21's replayed CTE chain (cells, codes, probes, ADC) with
    the rerank tail — shortlist by ADC order, exact-L2 re-sort,
    recall vs exact top-k; bit-identical through the 6-dp rounding
    convention."""
    out, exact = s23_serving_plan(spark, sf_dir)
    try:
        rows = out.collect()  # topk*NQ rows: tiny
    finally:
        exact.unpersist()  # release even when collect fails (bench
        # loops catch per-query errors and keep the session alive)
    return spark.createDataFrame(rows, out.schema)
