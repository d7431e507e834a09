"""Near-dup-on-ingest index: the MinHash LSH pipeline maintained as a
document stream lands (SURVEY §2.9/§2.11 — the streaming form of the
d04 dedup path; backs `st15_stream_minhash_index`; measured at 472k
docs in SCALE.md "Round-11 (cont.): streaming near-dup ingest").

Each absorbed micro-batch:
  1. sketches ITS docs (3-gram shingles → md5 minhash → LSH band keys
     — d04's exact pipeline, via functions.text),
  2. self-joins its band keys for within-batch candidates
     (hot-band-capped) and probes the persisted band index for
     cross-batch candidates,
  3. verifies candidates with exact Jaccard ≥ `jaccard` over the
     shingle sets,
  4. appends its bands/shingles and the new pairs to the index.

So every near-dup pair surfaces exactly once — the moment its SECOND
member arrives — and history is never re-SKETCHED.

Scale contract (what grows with history, measured in SCALE.md
"Round-11 (cont.): streaming near-dup ingest"):
- The sketch pass and within-batch self-join are |batch|-local.
- The cross-batch probe scans the accumulated BAND INDEX — 8-byte
  keys + ids, ~1% of corpus bytes — the honest inverted-index cost.
- The Jaccard verify needs SHINGLE SETS, i.e. corpus-scale payload.
  With `prune_history=True` (default) the history shingle read is
  pruned to exactly the candidate doc_ids, which buys three things:
  (1) the verify joins see |candidates| heavy rows instead of
  |corpus|; (2) the pruned set is BOUNDED, so it caches and the two
  verify sides share ONE history fetch (unpruned, each side re-scans
  the corpus — 2 full passes per batch); (3) shingles land hive-
  partitioned on `tb = pmod(doc_id, toks_buckets)` and the fetch
  filters on the literal bucket list, so a bucket-sparse candidate
  set (quiet batches — most of a real stream) skips untouched
  directories outright. A dup-dense batch whose candidates hit every
  bucket degrades to one full index scan — the pre-prune cost, never
  worse. `prune_history=False` keeps the naive O(corpus)-per-batch
  double scan: the reference the pruned path is tested against
  (tests/test_stream_dedup.py), and the baseline SCALE.md's round-11
  numbers measured the pruning against.

State rides EpochPartitionedTable (epoch-partitioned overwrites + an
atomic pointer), so absorption is idempotent per epoch: a foreachBatch
retry (side effects are at-least-once) overwrites its own epoch's
pairs/bands/toks instead of duplicating them, and a crash mid-absorb
leaves the uncommitted epoch invisible.

Assumes doc_ids are unique across the stream (same contract as the
exact-dedup front door, st13): re-ingesting an id would verify its
pairs against whichever shingle copy the pruned read kept.

Layout contract: every epoch of a subtable must share one partition
scheme (EpochPartitionedTable.write's rule) — state dirs written by
the pre-r11 inline absorbs (flat toks/vecs epochs) cannot be resumed
under these operators; start a fresh state dir (st15/st20 build one
per invocation) or fold the old state manually before switching.

The reference has no streaming surface at all (its ingest is
one-Lambda-per-object, reference `lambda-function.py`); this operator
is the Spark-native upgrade path SURVEY §2.9 prescribes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.functions import text as TX
from serverless_datalake_aws_spark.operators.banding import (
    capped_band_self_join,
)
from serverless_datalake_aws_spark.operators.incremental import (
    EpochPartitionedTable,
)


def _check_meta(path: str, meta: dict) -> None:
    """Pin the index's layout/semantics parameters to its state dir.
    The pruned history fetch computes tb = pmod(doc_id, toks_buckets)
    at READ time — reopening a dir written under a different bucket
    count would silently filter the WRONG buckets and drop real
    duplicate pairs (and a different jaccard/threshold/seed set makes
    the accumulated pair set semantically mixed) — so the first absorb
    writes `_META` and every construction against existing state must
    match it exactly."""
    import json
    import os

    p = os.path.join(path, "_META")
    if os.path.exists(p):
        with open(p) as fh:
            stored = json.load(fh)
        if stored != meta:
            raise ValueError(
                f"ingest-index state at {path} was written with "
                f"{stored}; reopening with {meta} would prune or pair "
                "incorrectly — use the original parameters or a fresh "
                "state dir"
            )


def _write_meta(path: str, meta: dict) -> None:
    import json
    import os
    import uuid

    p = os.path.join(path, "_META")
    if os.path.exists(p):
        return
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f"._META.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, p)


def _epoch_dirs(path: str, sub: str) -> int:
    """Number of epoch= partition dirs under a subtable (0 when the
    subtable does not exist yet) — the listing-cost proxy the
    compaction cadence triggers on."""
    import os

    try:
        return sum(
            1
            for d in os.listdir(os.path.join(path, sub))
            if d.startswith("epoch=")
        )
    except FileNotFoundError:
        return 0


def _compact_on_cadence(index) -> None:
    """Opportunistic cadence call at the END of an index's absorb
    (after the commit, so the fold always includes the epoch just
    written): fold everything once the busiest of `index.SUBTABLES`
    reaches `index.compact_every` epoch dirs. Every subtable counts —
    the flat ones (pairs, bands) gain a dir per batch even when the
    batch is empty, while a partitioned one skips empty writes. A
    concurrent-reader abort (RuntimeError) just defers to the next
    batch — maintenance must never fail an ingest."""
    if not index.compact_every:
        return
    path = index.state.path
    if max(_epoch_dirs(path, s) for s, _ in index.SUBTABLES) >= index.compact_every:
        try:
            index.compact()
        except RuntimeError:
            pass


def sketch_batch(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(bands, toks) for one micro-batch — d04's exact sketch pipeline
    (3-gram shingles, md5 minhash, LSH band keys) over `batch`
    (columns doc_id, text)."""
    d = batch.select(
        "doc_id",
        F.array_distinct(TX.word_ngrams("text", n=3)).alias("toks"),
    ).withColumn(
        "hs", F.transform("toks", lambda t: TX.token_hash(t) % TX.MINHASH_P)
    )
    bands = d.select(
        "doc_id",
        F.explode(TX.lsh_band_keys(TX.minhash_mins(F.col("hs")))).alias(
            "band_key"
        ),
    )
    return bands, d.select("doc_id", "toks")


class MinHashIngestIndex:
    """Maintained MinHash LSH near-dup index over a document stream.

    `absorb(batch, epoch_id)` is the foreachBatch body; `pairs()`
    reads the committed pair set (None before the first commit).
    """

    # above this many candidate history ids per batch, the doc_id
    # predicate switches from a literal IN-list (row-group prunable,
    # but a 100k-literal plan costs more to analyze than it saves) to
    # a semi-join that never collects the ids; the bucket (tb) literal
    # filter — at most `toks_buckets` values — stays either way, so
    # partition-dir pruning survives the fallback. Dir pruning bites
    # when the candidate set is bucket-sparse (the common quiet-batch
    # case); a dup-dense batch touching every bucket degrades
    # gracefully to the pre-prune full index scan, never worse.
    MAX_INLIST = 10_000
    # (subtable, write-time partition columns): compact() folds each,
    # and the absorb cadence counts epoch dirs across all of them
    SUBTABLES = (("pairs", None), ("bands", None), ("toks", ["tb"]))

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        jaccard: float = 0.6,
        prune_history: bool = True,
        toks_buckets: int = 32,
        compact_every: int | None = 16,
    ):
        self.spark = spark
        self.state = EpochPartitionedTable(spark, path)
        self.jaccard = jaccard
        self.prune_history = prune_history
        self.toks_buckets = toks_buckets
        # maintenance cadence (VERDICT r11 #2): without it a long-lived
        # stream accrues one epoch dir per micro-batch and per-batch
        # LISTING eventually dominates the probe cost; absorb folds the
        # committed epochs whenever a subtable's dir count crosses this
        # threshold. None disables (an external maintenance job then
        # owns compact()). The trigger is DIR COUNT, not epoch number:
        # it bounds listing cost directly and is robust to epoch-id
        # gaps from stream restarts.
        self.compact_every = compact_every
        self._meta = {"toks_buckets": toks_buckets, "jaccard": jaccard}
        _check_meta(path, self._meta)

    def committed(self) -> int:
        return self.state.committed()

    def pairs(self) -> DataFrame | None:
        return self.state.read("pairs", upto=self.state.committed())

    def compact(self) -> None:
        """Fold committed epochs into one dir per subtable (file-count
        maintenance for long-lived streams — one dir accrues per
        micro-batch otherwise). Called from absorb() every
        `compact_every` epoch dirs, or between absorbs by an external
        maintenance job; the shingle table keeps its doc_id bucketing
        so the candidate fetch still dir-prunes after the fold."""
        for sub, part in self.SUBTABLES:
            self.state.compact(sub, partition_by=part)

    def _history_toks(
        self, high: int, cand: DataFrame, batch_toks: DataFrame
    ) -> DataFrame | None:
        """Shingle rows for exactly the HISTORY side of `cand` —
        candidate ids minus the current batch's ids. Returns None when
        nothing is needed (first epoch, or no cross-batch candidate)."""
        old = self.state.read("toks", upto=high)
        if old is None:
            return None
        if not self.prune_history:
            return old.drop("tb") if "tb" in old.columns else old
        need = (
            cand.select(F.col("doc1").alias("doc_id"))
            .unionByName(cand.select(F.col("doc2").alias("doc_id")))
            .distinct()
            .join(batch_toks.select("doc_id"), "doc_id", "left_anti")
        )
        # COUNT before any collect: a degenerate hot band (boilerplate
        # key shared by the batch and deep history) can make the
        # candidate set history-sized, and collecting it would OOM the
        # driver — the whole set only ever comes down when it is small
        n_need = need.count()
        if n_need == 0:
            return None
        pruned = old
        if "tb" in old.columns:
            # the distinct BUCKET list is bounded by toks_buckets
            # however degenerate the id set, so dir pruning is always
            # safe to compute
            buckets = sorted(
                r["tb"]
                for r in need.select(
                    F.pmod(F.col("doc_id"), F.lit(self.toks_buckets))
                    .cast("int")
                    .alias("tb")
                )
                .distinct()
                .collect()
            )
            pruned = pruned.filter(F.col("tb").isin(buckets))
        if n_need <= self.MAX_INLIST:
            ids = [r["doc_id"] for r in need.collect()]
            pruned = pruned.filter(F.col("doc_id").isin(ids))
        else:
            # no broadcast hint: at this size the planner (AQE) should
            # pick the join side; forcing a broadcast of an unbounded
            # id set trades a driver OOM for an executor one
            pruned = pruned.join(need, "doc_id", "semi")
        return pruned.drop("tb") if "tb" in pruned.columns else pruned

    def absorb(self, batch: DataFrame, epoch_id: int) -> None:
        if epoch_id <= self.state.committed():
            return  # retry of an absorbed epoch
        _write_meta(self.state.path, self._meta)
        bands_b, toks_b = sketch_batch(batch)
        bands_b = bands_b.cache()
        # toks_b is read up to 3x (both jac sides + the epoch write);
        # each uncached read re-runs the batch shingle pass
        toks_b = toks_b.cache()
        high = self.state.committed()
        old_bands = self.state.read("bands", upto=high)
        # cache=False: this absorb owns the ONE cache on bands_b (the
        # helper's internal cache leaked one block-manager entry per
        # epoch that nothing released)
        within = capped_band_self_join(
            bands_b, "band_key", "doc_id", cache=False
        )
        if old_bands is not None:
            cross = (
                bands_b.join(
                    old_bands.withColumnRenamed("doc_id", "old_id"),
                    "band_key",
                )
                .select(
                    F.least("doc_id", "old_id").alias("doc1"),
                    F.greatest("doc_id", "old_id").alias("doc2"),
                )
            )
            cand = within.select("doc1", "doc2").unionByName(cross)
        else:
            cand = within.select("doc1", "doc2")
        # cached: reused by the pruned-id collection AND the jac join,
        # and its lineage holds the band self-join + index probe
        cand = cand.dropDuplicates(["doc1", "doc2"]).cache()
        old_toks = None
        try:
            old_toks = self._history_toks(high, cand, toks_b)
            if old_toks is not None and self.prune_history:
                # caching collapses the two verify-side scans (t1 + t2
                # below each re-read the source) into one history
                # fetch; DataFrame.cache is MEMORY_AND_DISK, so even a
                # degenerate (hot-band) candidate fetch spills instead
                # of OOMing. The unpruned path must not cache:
                # corpus-scale state.
                old_toks = old_toks.cache()
            avail = (
                toks_b if old_toks is None
                else toks_b.unionByName(old_toks)
            )
            t1 = avail.select(
                F.col("doc_id").alias("doc1"), F.col("toks").alias("t1")
            )
            t2 = avail.select(
                F.col("doc_id").alias("doc2"), F.col("toks").alias("t2")
            )
            inter = F.size(F.array_intersect("t1", "t2")).cast("double")
            jac = inter / (F.size("t1") + F.size("t2") - inter)
            pairs = (
                cand.join(t1, "doc1")
                .join(t2, "doc2")
                .withColumn("_jac_raw", jac)
                .filter(F.col("_jac_raw") >= self.jaccard)
                .select("doc1", "doc2", F.round("_jac_raw", 4).alias("jac"))
            )
            self.state.write(pairs, "pairs", epoch_id)
            self.state.write(bands_b, "bands", epoch_id)
            self.state.write(
                toks_b.withColumn(
                    "tb", F.pmod(F.col("doc_id"), F.lit(self.toks_buckets))
                ),
                "toks",
                epoch_id,
                partition_by=["tb"],
            )
            self.state.commit(epoch_id)
        finally:
            bands_b.unpersist()
            toks_b.unpersist()
            cand.unpersist()
            if old_toks is not None and self.prune_history:
                old_toks.unpersist()
        _compact_on_cadence(self)


class CosineIngestIndex:
    """Maintained SemDeDup index over an embedding stream — the
    EMBEDDING sibling of MinHashIngestIndex (backs
    `st20_stream_semantic_dedup`): each absorbed micro-batch
    cluster-assigns against frozen `seeds`, finds ε-similar pairs
    within the batch and against the persisted index, and appends its
    vectors.

    Scale contract: candidate joins carry the CLUSTER KEY, so pair
    work is Σ|c_batch|·|c_index| per touched cluster, never all-pairs
    — and with `prune_history=True` (default) the history side is
    also PRUNED TO THE BATCH'S CLUSTERS before the scan: vectors land
    hive-partitioned on cid, the probe filters on the batch's literal
    cid list, and Spark skips every untouched cluster's directories.
    Without it every batch re-reads the whole accumulated vector
    table (corpus-scale I/O) just to throw most of it away in the
    join."""

    # as MinHashIngestIndex.SUBTABLES
    SUBTABLES = (("pairs", None), ("vecs", ["cid"]))

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        seeds: list[tuple[int, list[float]]],
        threshold: float,
        prune_history: bool = True,
        compact_every: int | None = 16,
    ):
        import hashlib
        import json

        self.spark = spark
        self.state = EpochPartitionedTable(spark, path)
        self.seeds = seeds
        self.threshold = threshold
        self.prune_history = prune_history
        # dir-count compaction cadence — same contract as
        # MinHashIngestIndex.compact_every
        self.compact_every = compact_every
        # the stored cids are only meaningful under the EXACT seed set
        # that assigned them — fingerprint it (6-dp rounding: floats
        # round-trip identically through parquet at that precision)
        sig = json.dumps(
            [[int(c), [round(float(x), 6) for x in e]] for c, e in seeds]
        )
        self._meta = {
            "threshold": round(float(threshold), 6),
            "seeds_md5": hashlib.md5(sig.encode()).hexdigest(),
        }
        _check_meta(path, self._meta)

    def committed(self) -> int:
        return self.state.committed()

    def pairs(self) -> DataFrame | None:
        return self.state.read("pairs", upto=self.state.committed())

    def compact(self) -> None:
        """Fold committed epochs into one dir per subtable; the vector
        table keeps its cid partitioning so cluster pruning survives
        the fold. Called from absorb() on the dir-count cadence, or
        between absorbs by an external job (single-writer contract)."""
        for sub, part in self.SUBTABLES:
            self.state.compact(sub, partition_by=part)

    def _eps_pairs(self, left: DataFrame, right: DataFrame) -> DataFrame:
        """ε-similar (vec1 < vec2) pairs across two assigned sides,
        joined on the cluster key only."""
        from serverless_datalake_aws_spark.functions import vector as VX

        a = left.select(
            F.col("cid").alias("_cid"),
            F.col("vec_id").alias("_id1"),
            F.col("embedding").alias("_e1"),
            F.col("nrm").alias("_n1"),
        )
        b = right.select(
            F.col("cid").alias("_cid"),
            F.col("vec_id").alias("_id2"),
            F.col("embedding").alias("_e2"),
            F.col("nrm").alias("_n2"),
        )
        cos = F.round(
            VX.dot(F.col("_e1"), F.col("_e2")) / (F.col("_n1") * F.col("_n2")),
            6,
        )
        return (
            a.join(b, "_cid")
            .filter(
                (F.col("_id1") != F.col("_id2"))
                & (F.col("_n1") > 0)
                & (F.col("_n2") > 0)
            )
            .select(
                F.least("_id1", "_id2").alias("vec1"),
                F.greatest("_id1", "_id2").alias("vec2"),
                cos.alias("cos"),
            )
            .filter(F.col("cos") >= self.threshold)
            .dropDuplicates(["vec1", "vec2"])
        )

    def _history_vecs(self, high: int, assigned: DataFrame) -> DataFrame | None:
        """History vectors pruned to the batch's clusters (the cid list
        is bounded by len(seeds), so it collects and prunes as literal
        partition filters)."""
        old = self.state.read("vecs", upto=high)
        if old is None:
            return None
        if not self.prune_history:
            return old
        cids = [r["cid"] for r in assigned.select("cid").distinct().collect()]
        if not cids:
            return None
        return old.filter(F.col("cid").isin(cids))

    def absorb(self, batch: DataFrame, epoch_id: int) -> None:
        from serverless_datalake_aws_spark.functions import vector as VX

        if epoch_id <= self.state.committed():
            return  # retry of an absorbed epoch
        _write_meta(self.state.path, self._meta)
        assigned = VX.nearest_centroid(batch, self.seeds).cache()
        try:
            high = self.state.committed()
            old = self._history_vecs(high, assigned)
            pairs = self._eps_pairs(assigned, assigned)
            if old is not None:
                pairs = pairs.unionByName(
                    self._eps_pairs(assigned, old)
                ).dropDuplicates(["vec1", "vec2"])
            self.state.write(pairs, "pairs", epoch_id)
            self.state.write(
                assigned.select("vec_id", "embedding", "nrm", "cid"),
                "vecs",
                epoch_id,
                partition_by=["cid"],
            )
            self.state.commit(epoch_id)
        finally:
            assigned.unpersist()
        _compact_on_cadence(self)
