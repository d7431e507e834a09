"""Incremental aggregate maintenance: algebraic partial rollups that
merge across batches without re-scanning history.

The reference recomputes its indexing tallies by full scan on every
run (index-data-lambda reprocesses the whole prefix); at 100 TB a
maintained rollup must absorb a delta batch touching only the delta's
rows plus the (tiny) rollup table. This module represents a rollup in
its ALGEBRAIC form — per measure: count, sum, min, max — which is
closed under merge (sum-of-sums, min-of-mins, ...), so

    rollup(base ∪ delta) == merge(rollup(base), rollup(delta))

holds exactly, batch by batch. Derived metrics that are NOT algebraic
(avg) are finalized from the merged partials (sum/count), never
merged directly — averaging averages is the classic wrong answer.

Scale notes: each `partial_rollup` is one map-side-combined
aggregation over its input only; `merge_rollups` shuffles only rollup
rows (|groups|, not |rows|). Exactly the partial-aggregate tree Spark
builds inside one job, lifted to cross-job/cross-day granularity.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.sources.readers import is_missing_path


def partial_rollup(
    df: DataFrame,
    keys: list[str],
    measures: list[str],
    distinct_cols: list[str] | None = None,
    with_moments: bool = False,
) -> DataFrame:
    """Aggregate `df` to its mergeable partial state: one row per key
    combination carrying n_rows plus sum/min/max per measure.

    `distinct_cols` adds a mergeable HLL sketch per column (Spark's
    Apache DataSketches binary, closed under union) — the ONLY way
    distinct counts survive incremental maintenance: exact distinct is
    not algebraic (|A ∪ B| ≠ |A| + |B|), so a maintained rollup either
    re-scans history or keeps a sketch. `with_moments` adds sum of
    squares, making variance/stddev derivable at finalize."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for m in measures:
        aggs += [
            F.sum(m).alias(f"sum_{m}"),
            F.min(m).alias(f"min_{m}"),
            F.max(m).alias(f"max_{m}"),
            # per-measure NON-NULL count: sum/sumsq skip NULLs, so
            # avg/var must divide by this, not n_rows — SQL AVG/
            # VAR_SAMP semantics (divergence shows the moment a
            # measure column carries NULLs)
            F.count(m).alias(f"n_{m}"),
        ]
        if with_moments:
            aggs.append(F.sum(F.col(m) * F.col(m)).alias(f"sumsq_{m}"))
    for c in distinct_cols or []:
        aggs.append(F.hll_sketch_agg(c).alias(f"hll_{c}"))
    return df.groupBy(*keys).agg(*aggs)


def merge_rollups(
    partials: list[DataFrame],
    keys: list[str],
    measures: list[str],
    distinct_cols: list[str] | None = None,
    with_moments: bool = False,
) -> DataFrame:
    """Merge partial states (same schema) into one: counts, sums and
    sums-of-squares add, mins/maxes fold, HLL sketches union. Input
    sizes are |groups| each — this never touches fact rows."""
    if not partials:
        raise ValueError("nothing to merge")
    union = reduce(lambda a, b: a.unionByName(b), partials)
    aggs = [F.sum("n_rows").alias("n_rows")]
    for m in measures:
        aggs += [
            F.sum(f"sum_{m}").alias(f"sum_{m}"),
            F.min(f"min_{m}").alias(f"min_{m}"),
            F.max(f"max_{m}").alias(f"max_{m}"),
            F.sum(f"n_{m}").alias(f"n_{m}"),
        ]
        if with_moments:
            aggs.append(F.sum(f"sumsq_{m}").alias(f"sumsq_{m}"))
    for c in distinct_cols or []:
        aggs.append(F.hll_union_agg(f"hll_{c}").alias(f"hll_{c}"))
    return union.groupBy(*keys).agg(*aggs)


def finalize_rollup(
    partial: DataFrame,
    measures: list[str],
    distinct_cols: list[str] | None = None,
    with_moments: bool = False,
) -> DataFrame:
    """Derive the non-algebraic metrics from merged partials: avg from
    sum/count, sample variance from (sumsq - sum²/n)/(n-1) (NULL for
    n=1), approx distinct from the HLL estimate. Averaging per-batch
    averages — or per-batch variances — is the classic wrong answer;
    only the partials merge."""
    out = partial
    for m in measures:
        n = F.col(f"n_{m}")  # non-null count: SQL AVG/VAR semantics
        out = out.withColumn(
            f"avg_{m}", F.when(n > 0, F.col(f"sum_{m}") / n)
        )
        if with_moments:
            s, s2 = F.col(f"sum_{m}"), F.col(f"sumsq_{m}")
            out = out.withColumn(
                f"var_{m}",
                F.when(n > 1, (s2 - s * s / n) / (n - F.lit(1))),
            )
    for c in distinct_cols or []:
        out = out.withColumn(
            f"approx_distinct_{c}", F.hll_sketch_estimate(f"hll_{c}")
        )
    return out


class _EpochStateStore:
    """Versioned state directory with an atomic pointer — the storage
    contract every Maintained* sink shares.

    foreachBatch side effects are AT-LEAST-ONCE: Spark's checkpoint
    makes batch *delivery* exactly-once, but a task/driver retry
    re-invokes the sink function with the same epoch_id, so a sink
    that blindly merges double-absorbs the batch (the round-6 driver
    red row: same groups, same schema, wrong sums). Exactly-once must
    therefore come from the sink being IDEMPOTENT PER EPOCH — the
    same contract Delta Lake implements with txnAppId/txnVersion,
    re-expressed here on plain parquet:

      {path}/_LATEST               json {"state": <dirname>, "epoch": N}
      {path}/state-<seq>-<uid>/    immutable parquet state snapshots

    Publish writes a FRESH state dir, verifies it reads back, then
    commits (state dir, absorbed-epoch high-water mark) together in
    one atomic os.replace of the pointer. Crash before the replace:
    the pointer still names the old state, so the retry re-merges
    against the OLD snapshot — correct. Crash after: the retry sees
    epoch <= high-water and returns without touching state — correct.
    There is no interleaving that absorbs a batch twice. Stream epoch
    ids are monotonic per query, so a high-water mark (not an id set)
    suffices and stays O(1) for always-on streams.

    Legacy layout (parquet files directly under `path`, no pointer)
    is read as the current state with high-water -1; the first
    publish migrates it. On object stores the os.replace becomes
    sources/versioning.py's versioned publish (same shape: immutable
    version dirs + atomic pointer).

    Reader contract: read() resolves the pointer at CALL time and the
    superseded snapshot is GC'd by the next publish — materialize (or
    re-call read()) before interleaving another apply(); a lazy
    DataFrame held across a publish may lose its underlying files.
    The Maintained* sinks and every st1x entry follow this (absorb
    fully, then read)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    # -- pointer ----------------------------------------------------
    def _pointer(self) -> dict | None:
        import json
        import os

        p = os.path.join(self.path, "_LATEST")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def absorbed_epoch(self) -> int:
        ptr = self._pointer()
        return int(ptr["epoch"]) if ptr is not None else -1

    def already_absorbed(self, epoch_id: int | None) -> bool:
        return epoch_id is not None and epoch_id <= self.absorbed_epoch()

    # -- read -------------------------------------------------------
    def read(self) -> DataFrame | None:
        """Committed state, or None ONLY when never published. Any
        other read failure (corrupt footer, permission, transient IO)
        propagates — treating it as "first batch" would overwrite all
        accumulated history with one delta's partials."""
        import os

        from pyspark.errors import AnalysisException

        ptr = self._pointer()
        if ptr is None:
            # Never published, or legacy flat layout. A crashed FIRST
            # publish leaves an orphan state-* dir with no pointer —
            # that state was never committed, so it must read as
            # "never published" (Spark would otherwise raise
            # UNABLE_TO_INFER_SCHEMA on the bare subdir and wedge the
            # store: GC only runs inside publish, which read() gates).
            if not os.path.isdir(self.path):
                return None
            # GC uncommitted orphan state dirs FIRST: beside legacy
            # flat files they would trip Spark's mixed-depth partition
            # discovery (conflicting directory structures), wedging
            # the store before publish's own GC could ever run
            import shutil as _sh

            for entry in os.listdir(self.path):
                full = os.path.join(self.path, entry)
                if entry.startswith("state-") and os.path.isdir(full):
                    _sh.rmtree(full, ignore_errors=True)
            flat = [
                f
                for f in os.listdir(self.path)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
            if not flat:
                return None
            target = self.path
        else:
            target = os.path.join(self.path, ptr["state"])
        try:
            return self.spark.read.parquet(target)
        except AnalysisException as e:
            if ptr is None and is_missing_path(e):
                return None
            raise

    # -- publish ----------------------------------------------------
    def publish(self, df: DataFrame, epoch_id: int | None) -> None:
        import json
        import os
        import shutil
        import uuid

        os.makedirs(self.path, exist_ok=True)
        ptr = self._pointer()
        seq = 0 if ptr is None else int(ptr["state"].split("-")[1]) + 1
        new_high = max(
            self.absorbed_epoch(), epoch_id if epoch_id is not None else -1
        )
        state_name = f"state-{seq:06d}-{uuid.uuid4().hex[:8]}"
        state_dir = os.path.join(self.path, state_name)
        df.write.mode("overwrite").parquet(state_dir)
        self.spark.read.parquet(state_dir).count()  # verified read-back
        tmp = os.path.join(self.path, f"._LATEST.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump({"state": state_name, "epoch": new_high}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.path, "_LATEST"))
        # GC: anything that is neither the live state nor the pointer
        # is an orphan (superseded snapshot, crashed publish, legacy
        # flat layout) — best-effort, correctness never depends on it
        for entry in os.listdir(self.path):
            if entry in (state_name, "_LATEST"):
                continue
            full = os.path.join(self.path, entry)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                try:
                    os.remove(full)
                except OSError:
                    pass


class EpochPartitionedTable:
    """Append-shaped maintained state with epoch-idempotent writes —
    the second storage contract (the _EpochStateStore sibling for
    sinks that ACCUMULATE rows instead of rewriting a small state):
    every absorb lands in hive partitions epoch=<n> under named
    subtables (mode=overwrite on exactly that epoch dir), and a single
    atomic pointer commits the epoch high-water mark AFTER all writes.
    Readers filter epoch <= committed, so a crash mid-absorb leaves
    the uncommitted epoch invisible and a foreachBatch retry simply
    overwrites it. Used by MaintainedJoin (view/left/right) and the
    streaming near-dup index (pairs/bands/toks)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def committed(self) -> int:
        import json
        import os

        p = os.path.join(self.path, "_LATEST")
        if not os.path.exists(p):
            return -1
        with open(p) as fh:
            return int(json.load(fh)["epoch"])

    def commit(self, epoch: int) -> None:
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"._LATEST.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump({"epoch": epoch}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.path, "_LATEST"))

    def write(
        self,
        df: DataFrame,
        sub: str,
        epoch: int,
        partition_by: list[str] | None = None,
    ) -> None:
        """`partition_by` hive-partitions WITHIN the epoch dir (e.g. the
        near-dup index buckets its shingle table on pmod(doc_id, N) so
        candidate probes prune directories instead of scanning every
        epoch); the extra dirs read back as ordinary partition columns
        alongside `epoch`. A subtable must use the same partition_by on
        every epoch — mixing flat and partitioned epochs breaks Spark's
        partition discovery."""
        w = df.write.mode("overwrite")
        if partition_by:
            if df.isEmpty():
                # a PARTITIONED write of an empty frame emits only
                # _SUCCESS — no schema-bearing data file — and poisons
                # every later read of the subtable with
                # UNABLE_TO_INFER_SCHEMA (a flat empty write does emit
                # a schema file). An absent epoch dir reads identically
                # (zero rows), so write nothing.
                return
            w = w.partitionBy(*partition_by)
        w.parquet(f"{self.path}/{sub}/epoch={epoch}")

    def _recover_compact(self, sub: str) -> None:
        """Heal an interrupted compact() swap. Unlike the legacy fold
        (which must roll BACK because its staged copy may be partial),
        compact stages the complete new dir under __cnew before hiding
        anything, so recovery prefers rolling FORWARD — a reader that
        lands inside compact's two-rename window publishes the fold
        rather than resurrecting the old epochs beside it."""
        import os
        import shutil

        src = f"{self.path}/{sub}"
        cnew = f"{src}__cnew"
        chide = f"{src}__chide"
        if os.path.isdir(chide):
            if os.path.isdir(src):
                shutil.rmtree(chide, ignore_errors=True)  # published
            elif os.path.isdir(cnew):
                os.replace(cnew, src)  # roll the publish forward
                shutil.rmtree(chide, ignore_errors=True)
            else:
                os.replace(chide, src)  # staged copy lost: restore old
        elif os.path.isdir(cnew):
            # pre-hide crash: src is still live; drop the stage
            shutil.rmtree(cnew, ignore_errors=True)

    def _recover_legacy_swap(self, sub: str) -> None:
        """Heal an interrupted legacy migration (read()'s hide →
        publish → reclaim swap): a surviving `__legacy` dir means the
        publish may not have completed — roll back to it unless the
        migrated epoch=-1 already landed."""
        import os
        import shutil

        self._recover_compact(sub)
        src = f"{self.path}/{sub}"
        legacy = f"{src}__legacy"
        if os.path.isdir(legacy):
            if os.path.isdir(f"{src}/epoch=-1"):
                shutil.rmtree(legacy, ignore_errors=True)  # completed
            else:
                shutil.rmtree(src, ignore_errors=True)
                os.replace(legacy, src)  # roll back; migration re-runs
        shutil.rmtree(f"{src}__migrated", ignore_errors=True)

    def compact(
        self, sub: str, partition_by: list[str] | None = None
    ) -> bool:
        """Fold every COMMITTED epoch of `sub` into the single epoch=-1
        partition (the same slot the legacy-flat fold uses; -1 passes
        every `epoch <= upto` filter). File-count maintenance for
        long-lived streams: a maintained index absorbing one epoch per
        micro-batch accrues one directory per batch, and after a few
        thousand batches per-batch LISTING dominates the probe cost —
        compaction restores O(1) directories while the committed
        pointer, idempotence, and reader semantics stay untouched.

        `partition_by` must repeat the sub's write-time partitioning
        (e.g. ["tb"] for the near-dup shingle table) so directory
        pruning survives the fold.

        Single-writer contract: call between absorbs (e.g. from the
        foreachBatch body, every N epochs) or with the stream stopped.
        Epoch dirs ABOVE the committed pointer are uncommitted
        in-flight state; compaction drops them exactly as a crash
        would, and the stream's checkpoint redelivers those batches.

        Crash-safe via a staged hide -> publish swap with
        compact-specific markers (__cnew/__chide): the complete new
        dir is built BEFORE anything is hidden, so _recover_compact
        (run by every read/compact) rolls an interruption FORWARD to
        the finished fold — a reader landing inside the two-rename
        window publishes the new state instead of resurrecting the
        old epochs beside it. A cross-process reader racing the
        pre-hide instant can at worst abort this compact with the
        original state intact (RuntimeError — retry). Returns True if
        a fold happened."""
        import os
        import shutil

        high = self.committed()
        if high < 0:
            return False
        self._recover_legacy_swap(sub)
        src = f"{self.path}/{sub}"
        if not os.path.isdir(src):
            return False
        if sum(1 for d in os.listdir(src) if d.startswith("epoch=")) <= 1:
            return False  # already compact
        df = self.read(sub, upto=high)
        if df is None:
            return False
        # stage the FULL new subtable dir before any destructive step,
        # then swap with two renames (hide old -> publish new). The
        # markers are compact-specific (__cnew/__chide, not the legacy
        # fold's __legacy) and _recover_compact can roll FORWARD from
        # any crash point — a reader landing inside the two-rename
        # window heals to the completed fold instead of resurrecting
        # the old epochs next to it (which would double every row).
        self.write(df, sub + "__migrated", -1, partition_by=partition_by)
        if not os.path.isdir(f"{self.path}/{sub}__migrated/epoch=-1"):
            # write() skips EMPTY partitioned frames (no schema file);
            # an all-empty committed fold means there is nothing to
            # publish — leave the subtable as-is
            return False
        cnew = f"{src}__cnew"
        shutil.rmtree(cnew, ignore_errors=True)
        os.makedirs(cnew)
        os.replace(f"{self.path}/{sub}__migrated/epoch=-1", f"{cnew}/epoch=-1")
        shutil.rmtree(f"{self.path}/{sub}__migrated", ignore_errors=True)
        chide = f"{src}__chide"
        os.replace(src, chide)
        try:
            os.replace(cnew, src)
        except FileNotFoundError:
            # a concurrent reader's _recover_compact got here first:
            # either it already published cnew as src (done), or it
            # removed a cnew it saw beside a then-live src (pre-hide
            # heal) and we lost the staged copy — restore the original
            # and report the abort; no state is lost or duplicated.
            if os.path.isdir(os.path.join(src, "epoch=-1")):
                pass  # rolled forward by the reader
            elif os.path.isdir(chide):
                os.replace(chide, src)
                raise RuntimeError(
                    f"compact({sub}) aborted by a concurrent reader's "
                    "recovery; original state restored — retry"
                )
            else:
                raise
        shutil.rmtree(chide, ignore_errors=True)
        return True

    def read(self, sub: str, upto: int) -> DataFrame | None:
        from pyspark.errors import AnalysisException

        self._recover_legacy_swap(sub)
        try:
            df = self.spark.read.parquet(f"{self.path}/{sub}")
        except AnalysisException as e:
            if is_missing_path(e):
                return None
            raise
        if "epoch" not in df.columns:
            # legacy pre-epoch layout (blind-append files directly under
            # the subtable, no epoch= partitions — the pre-r7 scheme):
            # that state IS the committed state. Fold it into an
            # epoch=-1 partition (a later write() beside flat files
            # would break partition discovery; -1 can never collide
            # with a real stream epoch and passes every `epoch <=
            # upto` filter, upto >= -1) — mirrors _EpochStateStore's
            # legacy-flat contract.
            import os
            import shutil

            src = f"{self.path}/{sub}"
            legacy = f"{src}__legacy"
            self.write(df, sub + "__migrated", -1)  # materialized copy
            # crash-safe swap: hide the whole flat dir in ONE rename
            # (deleting files one-by-one before the replace left a
            # window where the committed state existed nowhere), then
            # publish the migrated copy, then reclaim. _recover_legacy
            # rolls an interrupted swap back on the next read.
            os.replace(src, legacy)
            os.makedirs(src)
            os.replace(
                f"{self.path}/{sub}__migrated/epoch=-1", f"{src}/epoch=-1"
            )
            shutil.rmtree(f"{self.path}/{sub}__migrated", ignore_errors=True)
            shutil.rmtree(legacy, ignore_errors=True)
            df = self.spark.read.parquet(src)
        return df.filter(F.col("epoch") <= F.lit(upto)).drop("epoch")


class MaintainedRollup:
    """A persisted rollup table absorbing delta batches incrementally.

    `apply(delta)` reads the stored partials (|groups| rows), merges
    the delta's partial state, and rewrites the rollup — history is
    never re-scanned. State lives in an _EpochStateStore, so when the
    caller is a foreachBatch sink and passes the stream's `epoch_id`,
    absorption is IDEMPOTENT PER EPOCH: a Spark batch retry (foreach-
    Batch side effects are at-least-once) re-invokes apply with the
    same id and is skipped instead of double-merged. Callers outside
    a stream omit epoch_id and get plain merge semantics."""

    def __init__(
        self,
        spark,
        path: str,
        keys: list[str],
        measures: list[str],
        distinct_cols: list[str] | None = None,
        with_moments: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.keys = keys
        self.measures = measures
        self.distinct_cols = distinct_cols or []
        self.with_moments = with_moments
        self._store = _EpochStateStore(spark, path)

    def _read_current(self) -> DataFrame | None:
        return self._store.read()

    def apply(self, delta: DataFrame, epoch_id: int | None = None) -> None:
        if self._store.already_absorbed(epoch_id):
            return  # batch retry — the merge already committed
        batch = partial_rollup(
            delta,
            self.keys,
            self.measures,
            self.distinct_cols,
            self.with_moments,
        )
        current = self._read_current()
        if current is None:
            merged = batch
        else:
            for m in self.measures:
                if f"n_{m}" not in current.columns:
                    # state persisted before per-measure non-null
                    # counts existed: that era's finalize divided by
                    # n_rows, so n_rows is its exact recorded meaning
                    current = current.withColumn(f"n_{m}", F.col("n_rows"))
            merged = merge_rollups(
                [current, batch],
                self.keys,
                self.measures,
                self.distinct_cols,
                self.with_moments,
            )
        self._store.publish(merged, epoch_id)

    def read(self) -> DataFrame:
        state = self._store.read()
        if state is None:
            raise FileNotFoundError(f"no rollup state at {self.path}")
        for m in self.measures:
            if f"n_{m}" not in state.columns:  # pre-n_<m> persisted state
                state = state.withColumn(f"n_{m}", F.col("n_rows"))
        return finalize_rollup(
            state,
            self.measures,
            self.distinct_cols,
            self.with_moments,
        )


def cm_partial(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch in LONG FORM — rows (d, bucket, cnt) — which
    makes the sketch algebraic for free: merging sketches is exactly a
    groupBy(d, bucket).sum, so maintained heavy-hitter counts ride the
    same partial/merge machinery as sums (no binary blobs, no custom
    merge UDF). Hashes are md5-affine (the t23 convention) so any
    engine reproduces the buckets bit-for-bit. Size: depth×width rows
    regardless of input — the whole sketch is broadcastable."""
    buckets = F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{d}:"), F.col(item_col).cast("string"))),
                        1,
                        14,
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.posexplode(buckets).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_merge(partials: list[DataFrame]) -> DataFrame:
    """Merge long-form count-min sketches: bucket counts add."""
    if not partials:
        raise ValueError("nothing to merge")
    union = reduce(lambda a, b: a.unionByName(b), partials)
    return union.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    sketch: DataFrame, items: DataFrame, item_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point estimates from a long-form sketch: hash each item into its
    depth buckets, take the MINIMUM bucket count (count-min errs only
    upward). The sketch side is depth×width rows — broadcast, so the
    estimate join never shuffles the item side."""
    buckets = F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{d}:"), F.col(item_col).cast("string"))),
                        1,
                        14,
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            )
            for d in range(depth)
        ]
    )
    hashed = items.select("*", F.posexplode(buckets).alias("d", "bucket"))
    return (
        # LEFT join + zero-fill: a bucket with no sketch row means the
        # count there is 0 — an inner join would silently drop
        # never-seen items from the output and take the min over a
        # PARTIAL bucket set for items with some empty buckets
        # (overestimating past the count-min bound; min must see the 0)
        hashed.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(*items.columns)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est_n")
        )
    )


class MaintainedJoin:
    """Incrementally-maintained JOIN view over insert-only feeds — the
    classical delta-join identity

        Δ(L ⋈ R) = ΔL ⋈ R_old  ∪  L_old ⋈ ΔR  ∪  ΔL ⋈ ΔR

    so absorbing a batch joins only delta rows against the stored
    snapshots, never recomputing the full view. Insert-only by design
    (ingest feeds append; updates/deletes need Delta/Iceberg MERGE —
    the documented upgrade); every batch appends the delta-join to the
    view and the deltas to the snapshots.

    Scale: the two delta-vs-snapshot joins are |Δ|-driven — with the
    snapshots hive-partitioned/bucketed on the join key the old-side
    scan prunes to matching partitions; ΔL ⋈ ΔR is delta-sized.

    Idempotence: every absorb lands in hive partitions epoch=<n>
    under view/left/right (mode=overwrite on exactly that epoch dir),
    and a single atomic pointer commits the epoch high-water mark
    AFTER all three writes. Readers filter epoch <= committed, so a
    crash anywhere mid-absorb leaves the uncommitted epoch invisible
    and a foreachBatch retry simply overwrites it — exactly-once
    semantics from an at-least-once sink callback, with no blind
    appends (the pre-r7 design appended on every invocation, so one
    Spark batch retry duplicated view rows)."""

    def __init__(self, spark, path: str, on: str, how: str = "inner"):
        if how != "inner":
            raise ValueError("insert-only delta maintenance supports inner joins")
        self.spark = spark
        self.path = path
        self.on = on
        self._t = EpochPartitionedTable(spark, path)

    def apply(
        self,
        delta_left: DataFrame | None = None,
        delta_right: DataFrame | None = None,
        epoch_id: int | None = None,
    ) -> None:
        high = self._t.committed()
        if epoch_id is not None and epoch_id <= high:
            return  # batch retry — this epoch already committed
        eid = epoch_id if epoch_id is not None else high + 1
        left_old = self._t.read("left", upto=high)
        right_old = self._t.read("right", upto=high)
        parts = []
        if delta_left is not None and right_old is not None:
            parts.append(delta_left.join(right_old, self.on))
        if delta_right is not None and left_old is not None:
            parts.append(left_old.join(delta_right, self.on))
        if delta_left is not None and delta_right is not None:
            parts.append(delta_left.join(delta_right, self.on))
        if parts:
            dv = reduce(lambda a, b: a.unionByName(b), parts)
            self._t.write(dv, "view", eid)
        if delta_left is not None:
            self._t.write(delta_left, "left", eid)
        if delta_right is not None:
            self._t.write(delta_right, "right", eid)
        self._t.commit(eid)

    def read(self) -> DataFrame:
        view = self._t.read("view", upto=self._t.committed())
        if view is None:
            raise FileNotFoundError(f"no view materialized at {self.path}")
        return view


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (DDSketch-style log histogram, long form)
# ---------------------------------------------------------------------------
#
# Completes the maintained-sketch trio: HLL (distinct), count-min
# (frequency), and now quantiles — the third non-algebraic metric that
# otherwise forces a history re-scan. Representation is LONG FORM like
# cm_*: one row per (key, sign, bin, cnt), so merging sketches is a
# plain groupBy-sum and the whole machinery stays declarative (no
# binary blobs, no custom merge UDF). Binning is pure arithmetic
# (ln-ratio, DDSketch γ-geometric), so any engine — DuckDB included —
# reproduces the buckets and the estimates bit-for-bit.
#
# Guarantee: for gamma = (1+α)/(1-α), every value in bin b is within
# relative error α of the bin midpoint 2·γ^b/(γ+1); quantile estimates
# inherit that α-relative-error bound (DDSketch, VLDB'19).

QH_GAMMA = 1.02  # α ≈ 1% relative error


def _qh_sign_bin(value_col: str, gamma: float):
    """(sign, bin) columns for one value: sign ∈ {-1,0,1}; bin is the
    γ-geometric index ceil(ln|x|/ln γ) for nonzero x, 0 for x == 0.
    The ln-ratio is rounded to 9 decimals before ceil so a 1-ulp ln()
    difference across engines cannot flip a bucket at bin edges."""
    x = F.col(value_col).cast("double")
    sign = F.when(x > 0, F.lit(1)).when(x < 0, F.lit(-1)).otherwise(F.lit(0))
    mag = F.abs(x)
    bin_ = F.when(
        x == 0, F.lit(0)
    ).otherwise(F.ceil(F.round(F.log(mag) / F.lit(math.log(gamma)), 9)))
    return sign, bin_.cast("long")


def qh_partial(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    gamma: float = QH_GAMMA,
) -> DataFrame:
    """Quantile-sketch partial state: rows (*keys, sign, bin, cnt).
    One map-side-combined aggregation over the input; output size is
    |keys| × O(log-range / ln γ) rows regardless of input rows."""
    sign, bin_ = _qh_sign_bin(value_col, gamma)
    return (
        # NULL and NaN measures are excluded, matching SQL quantile
        # semantics (percentile/quantile_cont ignore non-values) — a
        # NaN passing through would bin as a bogus small positive
        # (NaN compares > 0 in Spark) and skew every estimate
        df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        .select(*(keys or []), sign.alias("sign"), bin_.alias("bin"))
        .groupBy(*(keys or []), "sign", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qh_merge(partials: list[DataFrame], keys: list[str] | None = None) -> DataFrame:
    """Merge long-form quantile sketches: bucket counts add, so
    sketch(base ∪ delta) == merge(sketch(base), sketch(delta)) exactly
    — the merged sketch IS the from-scratch sketch."""
    if not partials:
        raise ValueError("nothing to merge")
    union = reduce(lambda a, b: a.unionByName(b), partials)
    return union.groupBy(*(keys or []), "sign", "bin").agg(
        F.sum("cnt").alias("cnt")
    )


def qh_quantiles(
    sketch: DataFrame,
    qs: list[float],
    keys: list[str] | None = None,
    gamma: float = QH_GAMMA,
) -> DataFrame:
    """Quantile estimates from a long-form sketch: order buckets by
    their representative value (sign-aware γ-midpoint), take the
    running count, and for each q return the first bucket whose
    cumulative count reaches rank ceil(q·n) — the classic
    rank-in-histogram walk, expressed as a window + min_by so it stays
    one shuffle over SKETCH rows (never fact rows). Output:
    (*keys, q, est)."""
    from pyspark.sql import Window

    rep = F.when(F.col("sign") == 0, F.lit(0.0)).otherwise(
        F.col("sign")
        * F.lit(2.0 / (gamma + 1.0))
        * F.exp(F.col("bin").cast("double") * F.lit(math.log(gamma)))
    )
    w = (
        Window.partitionBy(*(keys or []))
        .orderBy("rep")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        sketch.withColumn("rep", rep)
        .withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy(*(keys or []))))
    )
    quants = F.array(*[F.lit(float(q)) for q in qs])
    hits = (
        cum.select(*(keys or []), "rep", "cum", "n", F.explode(quants).alias("q"))
        .filter(F.col("cum") >= F.greatest(F.ceil(F.col("q") * F.col("n")), F.lit(1)))
        .groupBy(*(keys or []), "q")
        .agg(F.min_by("rep", "cum").alias("est"))
    )
    return hits


class MaintainedQuantiles:
    """A persisted long-form quantile sketch absorbing delta batches —
    the qh_* trio behind the MaintainedRollup maintenance contract
    (explicit first-batch detection, _EpochStateStore versioned
    publish, per-epoch idempotent absorb). Because qh_merge is exact bucket
    addition, the maintained sketch equals the from-scratch sketch
    bit-for-bit no matter how deltas were batched or ordered — counts
    are integers, so there is no DECIMAL image to carry (unlike
    streaming SUMs)."""

    def __init__(
        self,
        spark,
        path: str,
        value_col: str,
        keys: list[str] | None = None,
        gamma: float = QH_GAMMA,
    ):
        self.spark = spark
        self.path = path
        self.value_col = value_col
        self.keys = keys or []
        self.gamma = gamma
        self._store = _EpochStateStore(spark, path)

    def apply(self, delta: DataFrame, epoch_id: int | None = None) -> None:
        if self._store.already_absorbed(epoch_id):
            return  # batch retry — the merge already committed
        batch = qh_partial(delta, self.value_col, self.keys, self.gamma)
        current = self._store.read()
        merged = batch if current is None else qh_merge([current, batch], self.keys)
        self._store.publish(merged, epoch_id)

    def read(self) -> DataFrame:
        state = self._store.read()
        if state is None:
            raise FileNotFoundError(f"no sketch state at {self.path}")
        return state

    def quantiles(self, qs: list[float]) -> DataFrame:
        return qh_quantiles(self.read(), qs, self.keys, self.gamma)
