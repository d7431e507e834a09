"""MinHashIngestIndex (operators/stream_dedup.py) — the shared
near-dup-on-ingest operator behind st15 and the streaming-ingest scale
probe. Covers: cross-epoch pair discovery equals the from-scratch d04
result, pruned vs unpruned history reads agree bit-for-bit, retry
idempotence, and the pruned read's plan actually carries partition
filters on the shingle buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_datalake_aws_spark.operators.stream_dedup import (
    CosineIngestIndex,
    MinHashIngestIndex,
    sketch_batch,
)
from tests.conftest import plan_of

# 3 near-dup clusters spread so pairs cross epochs: docs 1/2 (epoch 0
# vs 1), 3/4/5 (epochs 0,1,2), 6 alone, 7/8 within one epoch. Texts
# need >= 3 words for 3-gram shingles; near-dups share most shingles.
_BASE = (
    "the quick brown fox jumps over the lazy dog again and again today"
)
_DOCS = {
    1: _BASE,
    2: _BASE + " extra",
    3: "pack my box with five dozen liquor jugs for the long trip north",
    4: "pack my box with five dozen liquor jugs for the long trip south",
    5: "pack my box with five dozen liquor jugs for the long trip north",
    6: "completely unrelated text about nothing shared with any other doc",
    7: "sphinx of black quartz judge my vow said the old museum curator",
    8: "sphinx of black quartz judge my vow said the old museum janitor",
}
_EPOCHS = {0: [1, 3, 6], 1: [2, 4, 7], 2: [5, 8]}


def _batch(spark, epoch: int):
    rows = [(i, _DOCS[i]) for i in _EPOCHS[epoch]]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ground_truth(spark):
    """From-scratch d04-style pairs over ALL docs: band-collision
    candidates verified at jaccard >= 0.6 (same sketch helpers the
    operator uses, so this is the maintenance-vs-batch equality the
    st15 oracle asserts at corpus scale)."""
    all_docs = spark.createDataFrame(
        sorted(_DOCS.items()), "doc_id long, text string"
    )
    bands, toks = sketch_batch(all_docs)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), "band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .dropDuplicates(["doc1", "doc2"])
    )
    t1 = toks.select(F.col("doc_id").alias("doc1"), F.col("toks").alias("t1"))
    t2 = toks.select(F.col("doc_id").alias("doc2"), F.col("toks").alias("t2"))
    inter = F.size(F.array_intersect("t1", "t2")).cast("double")
    jac = inter / (F.size("t1") + F.size("t2") - inter)
    return {
        (r["doc1"], r["doc2"], r["jac"])
        for r in cand.join(t1, "doc1")
        .join(t2, "doc2")
        .withColumn("_j", jac)
        .filter(F.col("_j") >= 0.6)
        .select("doc1", "doc2", F.round("_j", 4).alias("jac"))
        .collect()
    }


def _absorb_all(spark, path: str, prune: bool) -> set:
    idx = MinHashIngestIndex(spark, path, prune_history=prune)
    for e in sorted(_EPOCHS):
        idx.absorb(_batch(spark, e), e)
    return {
        (r["doc1"], r["doc2"], r["jac"]) for r in idx.pairs().collect()
    }


def test_cross_epoch_pairs_match_from_scratch(spark, tmp_path):
    got = _absorb_all(spark, str(tmp_path / "idx"), prune=True)
    want = _ground_truth(spark)
    assert want  # the fixture must actually produce near-dup pairs
    assert got == want
    # and the cross-epoch pairs specifically were found (1-2 spans
    # epochs 0/1; 3-5 spans 0/2)
    found = {(a, b) for a, b, _ in got}
    assert (1, 2) in found and (3, 5) in found


def test_pruned_and_unpruned_history_agree(spark, tmp_path):
    pruned = _absorb_all(spark, str(tmp_path / "p"), prune=True)
    unpruned = _absorb_all(spark, str(tmp_path / "u"), prune=False)
    assert pruned == unpruned


def test_absorb_retry_is_idempotent(spark, tmp_path):
    idx = MinHashIngestIndex(spark, str(tmp_path / "idx"))
    idx.absorb(_batch(spark, 0), 0)
    idx.absorb(_batch(spark, 1), 1)
    before = sorted(
        (r["doc1"], r["doc2"]) for r in idx.pairs().collect()
    )
    idx.absorb(_batch(spark, 1), 1)  # foreachBatch redelivery
    after = sorted((r["doc1"], r["doc2"]) for r in idx.pairs().collect())
    assert before == after


def test_pruned_history_read_prunes_partitions(spark, tmp_path):
    """The candidate-bounded history read must reach the scan as
    PartitionFilters on the tb bucket column — otherwise 'pruned' is
    just a post-scan filter and the per-batch cost is still
    O(corpus)."""
    idx = MinHashIngestIndex(spark, str(tmp_path / "idx"))
    idx.absorb(_batch(spark, 0), 0)
    bands_b, toks_b = sketch_batch(_batch(spark, 1))
    cross = (
        bands_b.join(
            idx.state.read("bands", upto=0).withColumnRenamed(
                "doc_id", "old_id"
            ),
            "band_key",
        ).select(
            F.least("doc_id", "old_id").alias("doc1"),
            F.greatest("doc_id", "old_id").alias("doc2"),
        )
    ).dropDuplicates(["doc1", "doc2"])
    hist = idx._history_toks(0, cross, toks_b)
    assert hist is not None
    plan = plan_of(hist)
    assert "PartitionFilters" in plan and "tb" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]


def test_empty_first_batch_does_not_wedge_index(spark, tmp_path):
    """A zero-row micro-batch must not poison the index: a PARTITIONED
    empty parquet write emits no schema-bearing file, and the next
    batch's history read would die with UNABLE_TO_INFER_SCHEMA (review
    finding, verified on PySpark 4.1.2). The write layer skips empty
    partitioned frames instead — an absent epoch dir reads as zero
    rows."""
    idx = MinHashIngestIndex(spark, str(tmp_path / "m"))
    empty = spark.createDataFrame([], "doc_id long, text string")
    idx.absorb(empty, 0)
    assert idx.committed() == 0
    idx.absorb(_batch(spark, 0), 1)
    idx.absorb(_batch(spark, 1), 2)  # exercises the history read
    found = {(r["doc1"], r["doc2"]) for r in idx.pairs().collect()}
    assert (1, 2) in found
    vidx = CosineIngestIndex(spark, str(tmp_path / "v"), _SEEDS, 0.9)
    vempty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    vidx.absorb(vempty, 0)
    vidx.absorb(_vbatch(spark, 0), 1)
    vidx.absorb(_vbatch(spark, 1), 2)
    vfound = {(r["vec1"], r["vec2"]) for r in vidx.pairs().collect()}
    assert (10, 11) in vfound


def test_meta_mismatch_refused_on_reopen(spark, tmp_path):
    """Reopening an index with different layout/semantic parameters
    must raise: tb = pmod(doc_id, toks_buckets) is computed at read
    time, so a changed bucket count would silently prune the wrong
    directories and DROP real duplicate pairs."""
    import pytest as _pytest

    p = str(tmp_path / "m")
    idx = MinHashIngestIndex(spark, p, toks_buckets=32)
    idx.absorb(_batch(spark, 0), 0)
    with _pytest.raises(ValueError, match="toks_buckets"):
        MinHashIngestIndex(spark, p, toks_buckets=16)
    with _pytest.raises(ValueError, match="jaccard"):
        MinHashIngestIndex(spark, p, jaccard=0.5)
    MinHashIngestIndex(spark, p)  # matching params reopen fine
    vp = str(tmp_path / "v")
    vidx = CosineIngestIndex(spark, vp, _SEEDS, 0.9)
    vidx.absorb(_vbatch(spark, 0), 0)
    other_seeds = [(0, [0.0, 0.0, 1.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    with _pytest.raises(ValueError, match="seeds"):
        CosineIngestIndex(spark, vp, other_seeds, 0.9)
    with _pytest.raises(ValueError, match="threshold"):
        CosineIngestIndex(spark, vp, _SEEDS, 0.8)
    CosineIngestIndex(spark, vp, _SEEDS, 0.9)


def test_semi_join_fallback_matches_inlist_path(spark, tmp_path):
    """Above MAX_INLIST candidate ids the pruned fetch switches to a
    never-collected semi-join; force the switch (instance-level
    MAX_INLIST=0) and require bit-identical pairs."""
    idx = MinHashIngestIndex(spark, str(tmp_path / "s"))
    idx.MAX_INLIST = 0  # every cross-batch candidate takes the semi path
    for e in sorted(_EPOCHS):
        idx.absorb(_batch(spark, e), e)
    got = {(r["doc1"], r["doc2"], r["jac"]) for r in idx.pairs().collect()}
    assert got == _ground_truth(spark)


def test_compact_crash_windows_roll_forward(spark, tmp_path):
    """compact()'s staged swap must recover from every crash point
    WITHOUT resurrecting old epochs beside the fold (which would
    double every committed row — review finding on the first-cut
    legacy-style swap)."""
    import os
    import shutil

    path = str(tmp_path / "m")
    idx = MinHashIngestIndex(spark, path)
    idx.absorb(_batch(spark, 0), 0)
    idx.absorb(_batch(spark, 1), 1)
    want = sorted((r["doc1"], r["doc2"]) for r in idx.pairs().collect())
    src = os.path.join(path, "pairs")

    # (a) pre-hide crash: staged __cnew beside a live src -> stage
    # dropped, original intact
    os.makedirs(src + "__cnew")
    assert sorted(
        (r["doc1"], r["doc2"]) for r in idx.pairs().collect()
    ) == want
    assert not os.path.isdir(src + "__cnew")

    # (b) mid-swap crash: src hidden as __chide, complete __cnew
    # staged -> recovery publishes the FOLD (roll forward), no
    # duplicate rows
    idx.state.compact("pairs")  # produce a real folded layout first
    assert os.listdir(src) == ["epoch=-1"]
    shutil.copytree(src, src + "__cnew")
    os.replace(src, src + "__chide")
    got = sorted((r["doc1"], r["doc2"]) for r in idx.pairs().collect())
    assert got == want  # folded once, not doubled
    assert os.path.isdir(src) and not os.path.isdir(src + "__chide")

    # (c) post-publish crash: stale __chide beside a live src -> reaped
    shutil.copytree(src, src + "__chide")
    assert sorted(
        (r["doc1"], r["doc2"]) for r in idx.pairs().collect()
    ) == want
    assert not os.path.isdir(src + "__chide")


def test_compact_folds_epochs_and_keeps_results(spark, tmp_path):
    """compact() must fold committed epoch dirs to one, preserve the
    pair set bit-for-bit, keep the shingle table's bucket layout
    (dir pruning survives), and leave later absorbs correct (new
    cross-epoch pairs still found against compacted history)."""
    import os

    path = str(tmp_path / "idx")
    idx = MinHashIngestIndex(spark, path)
    idx.absorb(_batch(spark, 0), 0)
    idx.absorb(_batch(spark, 1), 1)
    before = sorted(
        (r["doc1"], r["doc2"], r["jac"]) for r in idx.pairs().collect()
    )
    idx.compact()
    for sub in ("pairs", "bands", "toks"):
        dirs = [
            d
            for d in os.listdir(os.path.join(path, sub))
            if d.startswith("epoch=")
        ]
        assert dirs == ["epoch=-1"], (sub, dirs)
    assert sorted(
        (r["doc1"], r["doc2"], r["jac"]) for r in idx.pairs().collect()
    ) == before
    # bucket layout survived the fold: tb=* dirs under epoch=-1
    tdirs = os.listdir(os.path.join(path, "toks", "epoch=-1"))
    assert any(d.startswith("tb=") for d in tdirs)
    # absorb after compact: the 3-5 pair (epoch 2 vs compacted epoch 0)
    idx.absorb(_batch(spark, 2), 2)
    found = {(r["doc1"], r["doc2"]) for r in idx.pairs().collect()}
    assert (3, 5) in found and set(before) <= {
        (r["doc1"], r["doc2"], r["jac"]) for r in idx.pairs().collect()
    }
    # idempotence pointer untouched: a retry of epoch 2 is still a no-op
    n = idx.pairs().count()
    idx.absorb(_batch(spark, 2), 2)
    assert idx.pairs().count() == n


def test_compact_interrupted_swap_recovers(spark, tmp_path):
    """A crash between hide and publish must roll back to the
    pre-compact state on the next read (the _recover_legacy_swap
    contract, exercised through compact()'s swap)."""
    import os
    import shutil

    path = str(tmp_path / "idx")
    idx = MinHashIngestIndex(spark, path)
    idx.absorb(_batch(spark, 0), 0)
    idx.absorb(_batch(spark, 1), 1)
    before = sorted(
        (r["doc1"], r["doc2"]) for r in idx.pairs().collect()
    )
    # simulate the crash window: src hidden, publish never happened
    src = os.path.join(path, "pairs")
    os.replace(src, src + "__legacy")
    os.makedirs(src)
    assert sorted(
        (r["doc1"], r["doc2"]) for r in idx.pairs().collect()
    ) == before
    assert not os.path.isdir(src + "__legacy")  # healed
    # and a compact after healing completes normally
    idx.compact()
    assert sorted(
        (r["doc1"], r["doc2"]) for r in idx.pairs().collect()
    ) == before
    shutil.rmtree(path)


# --- CosineIngestIndex (st20's operator) ---------------------------
# 2 seed clusters on opposite axes; vectors 10/11 near seed 0 across
# epochs, 12/13 near seed 1 within one epoch, 14 orthogonal-ish noise.
_SEEDS = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
_VECS = {
    10: [0.9, 0.1, 0.0, 0.0],
    11: [0.95, 0.05, 0.0, 0.0],
    12: [0.1, 0.9, 0.0, 0.0],
    13: [0.05, 0.95, 0.0, 0.0],
    14: [0.0, 0.6, 0.0, 0.8],
}
_VEPOCHS = {0: [10, 12, 13], 1: [11, 14]}


def _vbatch(spark, epoch: int):
    rows = [(i, _VECS[i]) for i in _VEPOCHS[epoch]]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _vabsorb_all(spark, path: str, prune: bool) -> set:
    idx = CosineIngestIndex(
        spark, path, _SEEDS, threshold=0.9, prune_history=prune
    )
    for e in sorted(_VEPOCHS):
        idx.absorb(_vbatch(spark, e), e)
    return {
        (r["vec1"], r["vec2"], r["cos"]) for r in idx.pairs().collect()
    }


def test_cosine_cross_epoch_pairs(spark, tmp_path):
    got = _vabsorb_all(spark, str(tmp_path / "v"), prune=True)
    found = {(a, b) for a, b, _ in got}
    # 10-11 crosses epochs (cluster 0); 12-13 is within epoch 0
    # (cluster 1); 14 shares cluster 1 but cos(12,14)/cos(13,14) < 0.9
    assert (10, 11) in found and (12, 13) in found
    assert not any(14 in p for p in found)


def test_cosine_pruned_and_unpruned_agree(spark, tmp_path):
    assert _vabsorb_all(
        spark, str(tmp_path / "p"), prune=True
    ) == _vabsorb_all(spark, str(tmp_path / "u"), prune=False)


def test_cosine_retry_is_idempotent(spark, tmp_path):
    idx = CosineIngestIndex(spark, str(tmp_path / "v"), _SEEDS, 0.9)
    idx.absorb(_vbatch(spark, 0), 0)
    idx.absorb(_vbatch(spark, 1), 1)
    before = sorted((r["vec1"], r["vec2"]) for r in idx.pairs().collect())
    idx.absorb(_vbatch(spark, 1), 1)
    assert before == sorted(
        (r["vec1"], r["vec2"]) for r in idx.pairs().collect()
    )


def test_cosine_history_read_prunes_partitions(spark, tmp_path):
    """The history probe must reach the scan as PartitionFilters on
    cid — a batch touching one cluster must not read the other
    clusters' directories."""
    idx = CosineIngestIndex(spark, str(tmp_path / "v"), _SEEDS, 0.9)
    idx.absorb(_vbatch(spark, 0), 0)
    from serverless_datalake_aws_spark.functions import vector as VX

    one_cluster = spark.createDataFrame(
        [(20, [0.99, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assigned = VX.nearest_centroid(one_cluster, _SEEDS)
    hist = idx._history_vecs(0, assigned)
    assert hist is not None
    plan = plan_of(hist)
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "cid" in pf
    # and the pruned read returns only cluster 0's rows
    assert {r["vec_id"] for r in hist.collect()} == {10}


def test_first_epoch_and_no_candidates_paths(spark, tmp_path):
    idx = MinHashIngestIndex(spark, str(tmp_path / "idx"))
    # epoch with only unrelated docs -> no pairs, still commits
    solo = spark.createDataFrame(
        [(100, "one lonely document with no twin anywhere at all today")],
        "doc_id long, text string",
    )
    idx.absorb(solo, 0)
    assert idx.committed() == 0
    assert idx.pairs().count() == 0
    # second epoch with no band collisions against history: the pruned
    # read returns None (no candidate ids) and absorb still commits
    other = spark.createDataFrame(
        [(101, "a totally different sentence that matches nothing else")],
        "doc_id long, text string",
    )
    idx.absorb(other, 1)
    assert idx.committed() == 1
    assert idx.pairs().count() == 0


def test_compact_cadence_bounds_dirs_and_keeps_results(spark, tmp_path):
    """absorb()'s dir-count cadence: with compact_every=3 the
    epoch-dir count of EVERY subtable stays bounded across many
    absorbs, and the pair set is bit-identical to a never-compacted
    index. Two streams: one doc per epoch, and mostly-empty batches —
    which add a dir per batch to the flat pairs/bands subtables but
    none to the partitioned shingle table."""
    import os

    def dirs(path):
        # epoch dirs per subtable; a missing subtable raises
        return [
            sum(
                1
                for d in os.listdir(os.path.join(path, sub))
                if d.startswith("epoch=")
            )
            for sub in ("pairs", "bands", "toks")
        ]

    def absorb_all(path, batches, compact_every):
        idx = MinHashIngestIndex(spark, path, compact_every=compact_every)
        for e, rows in enumerate(batches):
            idx.absorb(spark.createDataFrame(rows, "doc_id long, text string"), e)
            if compact_every:
                assert max(dirs(path)) <= compact_every, (path, e, dirs(path))
        return sorted((r["doc1"], r["doc2"], r["jac"]) for r in idx.pairs().collect())

    # one doc per epoch, every doc a near-dup of doc 0's text, so
    # cross-epoch candidates keep exercising the pruned history fetch
    dense = [[(i, _BASE + f" tail{i % 2}")] for i in range(8)]
    got = absorb_all(str(tmp_path / "c"), dense, 3)
    ref = str(tmp_path / "r")
    assert got == absorb_all(ref, dense, None)
    # the no-cadence index accrued one dir per epoch in every
    # subtable (the disease)
    assert dirs(ref) == [len(dense)] * 3
    # docs 0 and 1 again, four empty batches apart: the same pair
    mostly_empty = [[(0, _BASE + " tail0")], [], [], [], [(1, _BASE + " tail1")], []]
    sparse = absorb_all(str(tmp_path / "e"), mostly_empty, 3)
    assert sparse and sparse == [p for p in got if p[:2] == (0, 1)]


def test_cosine_compact_cadence_bounds_dirs(spark, tmp_path):
    import os

    base = str(tmp_path / "vc")
    idx = CosineIngestIndex(
        spark, base, _SEEDS, threshold=0.9, compact_every=2
    )
    vecs = [
        (30 + i, [1.0, float(i % 2) * 0.01, 0.0, 0.0]) for i in range(6)
    ]
    pair_sets = []
    for e, (vid, v) in enumerate(vecs):
        b = spark.createDataFrame(
            [(vid, v)], "vec_id long, embedding array<float>"
        )
        idx.absorb(b, e)
        dirs = sum(
            1
            for d in os.listdir(os.path.join(base, "vecs"))
            if d.startswith("epoch=")
        )
        assert dirs <= 2, f"epoch {e}: {dirs} dirs"
    # all 6 vectors are near-identical: every cross-epoch pair must
    # have survived the folds
    got = {(r["vec1"], r["vec2"]) for r in idx.pairs().collect()}
    want = {
        (a, b)
        for a in range(30, 36)
        for b in range(a + 1, 36)
    }
    assert got == want
