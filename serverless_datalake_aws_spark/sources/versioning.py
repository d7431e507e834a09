"""Versioned table writes + time-travel reads + lifecycle vacuum.

The reference turns on S3 bucket VERSIONING for the lake bucket
(`terraform-Infrastructure-provisioning/aws-data-lake-terraform-main.tf:8-13`):
every overwrite keeps the previous object as a noncurrent version, and
(implicitly, via S3 lifecycle policy) old versions are expired. Plain
Parquet directories have no such protection — an `overwrite` is
destructive, and the crash-safe swap (engine._publish_meta_swap) keeps
only the newest state. This module supplies the missing semantics,
Spark-first:

- `write_versioned(df, root)` — publishes `root/_v=<n>/` and moves the
  `_CURRENT` pointer only after the data + commit flag are fully
  written, so a reader resolving the pointer NEVER sees a half-written
  version (same commit-flag discipline as the K7 swap). Prior versions
  stay on disk — the bucket-versioning behavior.
- `read_versioned(spark, root, version=None)` — current or explicit
  version (time travel; S3's version-id GET).
- `vacuum(root, keep=2)` — lifecycle `noncurrent_version_expiration`:
  prune all but the newest `keep` noncurrent versions; the current
  version is never eligible.

At 100 TB the layout is object-store-friendly: each version is an
immutable directory (no renames of data files — only the tiny pointer
file is replaced), versions prune independently, and readers cost one
extra pointer GET.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PREFIX = "_v="
_POINTER = "_CURRENT"
_FLAG = "_COMMITTED"
_CLAIM = ".claim"  # sibling claim file: survives SaveMode.Overwrite's
# delete-and-recreate of the version DIRECTORY (claiming the dir itself
# was round 6's first attempt — Spark's overwrite committer deletes an
# existing target path, which would have handed the number to a racer)
_CLAIM_TTL = 3600.0  # vacuum grace for uncommitted-but-claimed versions
_CLAIM_HEARTBEAT = 30.0  # claim mtime refresh interval during the write


def _versions(root: Path) -> list[int]:
    if not root.exists():
        return []
    out = set()
    for p in root.iterdir():
        name = p.name
        if not name.startswith(_PREFIX):
            continue
        if name.endswith(_CLAIM):
            name = name[: -len(_CLAIM)]
        try:
            out.add(int(name[len(_PREFIX):]))
        except ValueError:
            continue
    return sorted(out)


def _committed(root: Path, v: int) -> bool:
    return (root / f"{_PREFIX}{v}" / _FLAG).exists()


def current_version(root: str | Path) -> int | None:
    """The version the `_CURRENT` pointer names, or None if unborn."""
    ptr = Path(root) / _POINTER
    if not ptr.exists():
        return None
    return int(ptr.read_text().strip())


def _write_data(df: DataFrame, vdir: Path, fmt: str) -> None:
    """The version-dir data write, factored out so crash/starvation
    interleavings can be injected by tests."""
    if fmt == "parquet":
        df.write.mode("overwrite").parquet(str(vdir))
    elif fmt in ("json", "ndjson"):
        df.write.mode("overwrite").json(str(vdir))
    else:
        raise ValueError(f"unsupported versioned format: {fmt}")


def write_versioned(
    df: DataFrame, root: str | Path, fmt: str = "parquet"
) -> int:
    """Publish `df` as the next version of the table at `root` and
    return the version number. Prior versions are preserved (bucket-
    versioning semantics). Publication order: data → commit flag →
    pointer; a crash between any two steps leaves the previous current
    version intact and the partial write inert (uncommitted dirs are
    ignored by readers and reclaimed by `vacuum`).

    Multi-writer (round 6): CONCURRENT writers are safe without any
    lock around the data write — Delta/Iceberg-style optimistic
    concurrency. The version number is claimed by O_EXCL-creating a
    SIBLING `_v=<n>.claim` file (the local-FS conditional PUT /
    If-None-Match; exactly one writer wins a given n, the loser probes
    n+1). The claim must NOT be the data directory itself: Spark's
    SaveMode.Overwrite deletes an existing target path before its
    committer recreates it, which would briefly un-claim the number
    mid-job and let a racer take it (found by round-6 self-review).
    `_versions()` counts claims as taken, so probes skip in-flight
    numbers; `vacuum()` honours a claim-age grace so it never reclaims
    a live writer's uncommitted dir. Only the POINTER update sits in a
    micro-critical-section (FileLock held for one read+rename) so a
    slower writer finishing later can't move `_CURRENT` backwards —
    the pointer is monotonic, matching S3 versioning's "latest PUT is
    current". Two-writer interleavings are tested in
    tests/test_versioning.py::test_concurrent_writers_occ.

    The claim/heartbeat/commit-flag/pointer mechanics live in
    `_publish_version` (shared with merge_versioned's file-level
    copy-on-write); this function only supplies the data step."""
    return _publish_version(
        Path(root), lambda vdir: _write_data(df, vdir, fmt)
    )


def read_versioned(
    spark: SparkSession,
    root: str | Path,
    version: int | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Read the current (default) or an explicit committed version."""
    root = Path(root)
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no current version at {root}")
    if not _committed(root, v):
        raise FileNotFoundError(f"version {v} at {root} is not committed")
    vdir = str(root / f"{_PREFIX}{v}")
    if fmt == "parquet":
        return spark.read.parquet(vdir)
    return spark.read.json(vdir)


def vacuum(
    root: str | Path, keep: int = 2, claim_grace: float = _CLAIM_TTL
) -> list[int]:
    """Expire noncurrent versions, keeping the newest `keep` of them —
    the lifecycle `noncurrent_version_expiration` rule. Uncommitted
    (crashed) version dirs are reclaimed UNLESS their claim file is
    younger than `claim_grace` seconds — a fresh claim means a live
    writer is mid-commit under the OCC protocol, and reclaiming under
    it would hand the writer's task commits a deleted directory (the
    round-6 self-review's multi-writer/vacuum interaction). The current
    version is never deleted — and neither is the NEWEST committed
    version even when the pointer lags it: a writer that has written
    its _COMMITTED flag but not yet swung _CURRENT is mid-publish, and
    deleting its version would leave the pointer naming a removed
    directory (with an unborn pointer, keep=0 would delete the only
    data). Returns the pruned version numbers."""
    root = Path(root)
    cur = current_version(root)
    pruned: list[int] = []
    all_committed = [v for v in _versions(root) if _committed(root, v)]
    protected = {cur, max(all_committed, default=None)}
    noncurrent = [v for v in _versions(root) if v not in protected]
    uncommitted = [v for v in noncurrent if not _committed(root, v)]
    committed = [v for v in noncurrent if _committed(root, v)]
    expired = committed[:-keep] if keep > 0 else committed
    now = time.time()
    for v in uncommitted:
        claim = root / f"{_PREFIX}{v}{_CLAIM}"
        try:
            if (now - claim.stat().st_mtime) < claim_grace:
                continue  # live in-flight writer — leave it alone
        except FileNotFoundError:
            pass  # no claim: pre-OCC crash debris, safe to reclaim
        claim.unlink(missing_ok=True)
        shutil.rmtree(root / f"{_PREFIX}{v}", ignore_errors=True)
        pruned.append(v)
    for v in expired:
        shutil.rmtree(root / f"{_PREFIX}{v}")
        pruned.append(v)
    return sorted(pruned)


def diff_versions(
    spark: SparkSession,
    root: str | Path,
    old: int,
    new: int | None = None,
    key: str = "id",
) -> DataFrame:
    """Keyed snapshot diff between two committed versions — the audit
    question bucket versioning exists to answer ("what changed between
    Tuesday and today?") as one DataFrame: a row per affected key with
    change ∈ {added, removed, changed}. `changed` compares the full
    row via a content hash of all non-key columns (sorted by name, so
    column order is irrelevant).

    Scale: one full-outer join on the key across the two snapshots —
    both sides key-partitioned; the hash is row-local. This is exactly
    Delta CDF's table_changes shape computed from plain versioned
    parquet."""
    old_df = read_versioned(spark, root, old)
    new_df = read_versioned(spark, root, new)

    def _hashed(df: DataFrame, alias: str) -> DataFrame:
        cols = sorted(c for c in df.columns if c != key)
        # to_json with nulls kept: unambiguous row image (a separator-
        # joined concat collides when a value CONTAINS the separator,
        # and a NULL placeholder collides with that literal string —
        # changed rows could classify as unchanged)
        return df.select(
            F.col(key),
            F.md5(
                F.to_json(
                    F.struct(*[F.col(c) for c in cols]),
                    {"ignoreNullFields": "false"},
                )
            ).alias(f"_h_{alias}"),
        )
    o, n = _hashed(old_df, "old"), _hashed(new_df, "new")
    j = o.join(n, key, "full_outer")
    return j.select(
        key,
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
        .alias("change"),
    ).filter(F.col("change").isNotNull())


def version_history(root: str | Path) -> list[tuple[int, float]]:
    """Committed versions with their commit timestamps (the commit
    flag's mtime — written last, so it IS the commit instant). The
    audit surface S3 versioning exposes as ListObjectVersions."""
    root = Path(root)
    out = []
    for v in _versions(root):
        flag = root / f"{_PREFIX}{v}" / _FLAG
        try:
            out.append((v, flag.stat().st_mtime))
        except FileNotFoundError:
            continue
    return out


def read_versioned_asof(
    spark: SparkSession, root: str | Path, ts: float, fmt: str = "parquet"
) -> DataFrame:
    """Time travel by timestamp (Delta's TIMESTAMP AS OF): the newest
    version committed at or before `ts` (unix seconds)."""
    eligible = [v for v, t in version_history(root) if t <= ts]
    if not eligible:
        raise FileNotFoundError(f"no version at or before {ts} at {root}")
    return read_versioned(spark, root, max(eligible), fmt)


def merge_versioned(
    spark: SparkSession,
    root: str | Path,
    source: DataFrame,
    key: str,
    matched: str = "update",
    not_matched: str = "insert",
) -> int:
    """MERGE INTO for versioned parquet tables — Delta's
    whenMatched/whenNotMatched trio with FILE-LEVEL copy-on-write:

        matched ∈ {update, delete, keep}; not_matched ∈ {insert, ignore}

    A naive merge rewrites the whole table per commit — a non-starter
    at 100 TB when a batch touches 0.1% of keys. Delta instead rewrites
    only the files that contain matched keys; this does the same with
    the machinery already in the repo: the footer-only stats index
    (sources/stats.py) marks a file AFFECTED iff its [min, max] range
    of `key` overlaps some source key (a superset of truly-matched
    files — false positives rewrite a file unnecessarily, never
    incorrectly). Unaffected files are HARD-LINKED into the new
    version directory (zero data movement; the object-store analogue
    is a server-side copy, and an Iceberg-style manifest would make
    even that free), so the write cost is
    O(affected files + source rows), not O(table). The join that
    classifies files runs on the stats table — metadata scale. Driver
    payload: the footer pass reads #files × #top-level columns stats
    rows on the driver (`collect_file_stats`); the merge keeps one key
    row per file of the current version.

    Safety: matched keys can only live in affected files (zone maps
    have no false negatives), so the rewrite set is always sufficient.
    The new version publishes through the same OCC claim + commit-flag
    + monotonic-pointer protocol as write_versioned — concurrent
    mergers each produce a complete self-consistent version, and the
    pointer names exactly one winner (Delta's OCC without conflict
    detection: last-writer-wins at table granularity, documented).

    `source` must carry the target's schema (update-all semantics).
    On an unborn table, merge degrades to inserting `source`."""
    if matched not in ("update", "delete", "keep"):
        raise ValueError(f"bad matched action: {matched}")
    if not_matched not in ("insert", "ignore"):
        raise ValueError(f"bad not_matched action: {not_matched}")
    from serverless_datalake_aws_spark.sources.stats import (
        collect_file_stats,
        list_parquet_files,
    )

    root = Path(root)
    cur = current_version(root)
    if cur is None:
        if not_matched == "ignore":
            raise FileNotFoundError(f"no current version at {root}")
        return write_versioned(source, root)
    vdir = root / f"{_PREFIX}{cur}"
    files = [f for f in list_parquet_files(vdir)]
    if not files and any(
        f.is_file() and not f.name.startswith(("_", "."))
        for f in vdir.iterdir()
    ):
        # a non-parquet versioned table (write_versioned fmt='json'):
        # the stats walk sees zero files, so EVERY row would classify
        # as not-matched and the merge would publish a version holding
        # only the source — silent loss of the whole table
        raise NotImplementedError(
            f"merge_versioned requires a parquet versioned table; "
            f"{vdir} holds non-parquet data files"
        )
    # the key column's footer stats: read on the driver into a local
    # relation (no Spark job builds, filters or collects it). The driver
    # holds one row per file, whatever the table's width: the rows feed
    # the fail-open set math below, the relation the overlap join.
    stats = collect_file_stats(spark, vdir, files=files).filter(
        F.col("column") == key
    )
    stat_rows = stats.collect()
    # canonicalize the source key to the SAME numeric image the stats
    # index stores (stats.py _canon/_canon_arrow): timestamps are unix
    # MICROS and dates are epoch DAYS there — a bare CAST(ts AS DOUBLE)
    # yields seconds (and dates don't cast to double at all), so every
    # real timestamp would miss its file's [min,max] and the merge
    # would silently re-insert matched keys instead of updating them
    key_dtype = dict(source.dtypes)[key]
    kcol = F.col(key)
    if key_dtype.startswith("timestamp"):
        mk = F.unix_micros(kcol).cast("double")
    elif key_dtype == "date":
        mk = F.datediff(kcol, F.lit("1970-01-01").cast("date")).cast("double")
    elif key_dtype == "boolean":
        mk = kcol.cast("int").cast("double")
    else:
        # ints/floats/decimals numerically; strings -> NULL (ANSI cast
        # would throw on 'abc'), the 'str' join branch compares raw
        mk = kcol.try_cast("double")
    # the source plan feeds several joins plus the overlap probe; pin
    # it so an expensive upstream pipeline isn't recomputed per use
    source = source.persist()
    src_keys = source.select(
        F.col(key).alias("_mk"), mk.alias("_mk_num")
    ).distinct()
    # overlap = files whose key zone map intersects some source key —
    # computed for EVERY action (even matched="keep" needs it to know
    # which target keys exist, so not-matched inserts don't duplicate
    # matched rows); only update/delete use it as the REWRITE set
    kstats = stats.filter(F.col("min_v").isNotNull() & F.col("max_v").isNotNull())
    # file overlaps iff any source key falls in [min, max]; the
    # numeric image compares at double precision (monotonic — can
    # only over-mark, never under-mark), strings lexically
    hit = F.broadcast(kstats).join(
        src_keys,
        F.when(
            F.col("kind") == "str",
            F.col("_mk").cast("string").between(F.col("min_v"), F.col("max_v")),
        ).otherwise(
            F.col("_mk_num").between(
                F.col("min_v").cast("double"), F.col("max_v").cast("double")
            )
        ),
        "inner",
    ).select("file").distinct()
    overlap = {r["file"] for r in hit.collect()}
    # fail-open the other way: a file with NO usable key stats might
    # contain matches — it must be treated as overlapping. Driver-side
    # set math over the key rows already held
    overlap |= {
        r["file"] for r in stat_rows if r["min_v"] is None or r["max_v"] is None
    }
    overlap |= set(files) - {r["file"] for r in stat_rows}
    rewrite = overlap if matched in ("update", "delete") else set()
    linked = [f for f in files if f not in rewrite]

    parts = []
    tgt_keys = None
    if overlap:
        ovl = spark.read.option("basePath", str(vdir)).parquet(*sorted(overlap))
        # all matched keys live in overlapping files (zone maps have
        # no false negatives), so this IS the matched-key set
        tgt_keys = ovl.select(F.col(key).alias("_tk")).distinct()
    if rewrite:
        parts.append(ovl.join(src_keys, ovl[key] == F.col("_mk"), "left_anti"))
    if matched == "update" and tgt_keys is not None:
        parts.append(
            source.join(tgt_keys, source[key] == F.col("_tk"), "left_semi")
        )
    if not_matched == "insert":
        if tgt_keys is not None:
            parts.append(
                source.join(tgt_keys, source[key] == F.col("_tk"), "left_anti")
            )
        else:
            parts.append(source)
    rewritten = None
    for p in parts:
        rewritten = p if rewritten is None else rewritten.unionByName(p)

    def _materialize(new_vdir: Path) -> None:
        if rewritten is not None:
            _write_data(rewritten, new_vdir, "parquet")
        else:
            new_vdir.mkdir(parents=True, exist_ok=True)
        for i, f in enumerate(sorted(linked)):
            dst = new_vdir / f"reused-{i:05d}-{Path(f).name}"
            try:
                os.link(f, dst)  # zero-copy; COW at the file level
            except OSError:
                shutil.copy2(f, dst)  # cross-device fallback
        if not any(new_vdir.glob("*.parquet")):
            # fully-deleted table: write an explicit zero-row file so
            # the version stays readable with its schema
            empty = spark.createDataFrame([], source.schema)
            empty.write.mode("append").parquet(str(new_vdir))
            if not any(new_vdir.glob("*.parquet")):
                import pyarrow as pa
                import pyarrow.parquet as pq

                from pyspark.sql.pandas.types import to_arrow_schema

                pq.write_table(
                    pa.table(
                        {f.name: [] for f in source.schema},
                        schema=to_arrow_schema(source.schema),
                    ),
                    str(new_vdir / "part-empty.parquet"),
                )

    try:
        return _publish_version(root, _materialize)
    finally:
        source.unpersist()


def _publish_version(root: Path, materialize) -> int:
    """The OCC claim → materialize → commit-flag → pointer protocol of
    write_versioned, with the data step pluggable (merge_versioned
    links + rewrites instead of writing one DataFrame)."""
    from serverless_datalake_aws_spark.sources.commitlog import FileLock

    root.mkdir(parents=True, exist_ok=True)
    seen = _versions(root)
    v = (seen[-1] + 1) if seen else 1
    while True:
        claim = root / f"{_PREFIX}{v}{_CLAIM}"
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            vdir = root / f"{_PREFIX}{v}"
            break
        except FileExistsError:
            v += 1
    import threading

    stop = threading.Event()

    def _beat() -> None:
        while not stop.wait(_CLAIM_HEARTBEAT):
            try:
                os.utime(claim)
            except OSError:
                return

    hb = threading.Thread(target=_beat, daemon=True)
    hb.start()
    try:
        materialize(vdir)
        if not claim.exists():
            shutil.rmtree(vdir, ignore_errors=True)
            raise RuntimeError(
                f"version claim {claim.name} was reclaimed mid-write; "
                "aborting the commit"
            )
        (vdir / _FLAG).write_text("ok\n")
    finally:
        stop.set()
        hb.join(timeout=5.0)
    claim.unlink(missing_ok=True)
    with FileLock(root / f"{_POINTER}.lock", ttl=30.0):
        cur = current_version(root)
        if cur is None or v > cur:
            tmp = root / f"{_POINTER}.tmp"
            tmp.write_text(f"{v}\n")
            tmp.replace(root / _POINTER)
    return v
