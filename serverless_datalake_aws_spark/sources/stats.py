"""File-level statistics index: zone maps + bloom file index (data
skipping).

The reference's lake has no file-skipping layer at all — every Athena
query scans the full prefix (SURVEY §4.3), and its point lookup relies
on DynamoDB holding a copy of the metadata. A 100 TB lake lives or dies
on skipping: with ~128 MB files, 100 TB is ~800k files, and a query
with a selective range predicate should open the handful whose
min/max overlap the range, not all of them. This module is the
engine-native twin of Delta Lake's per-file stats + Parquet bloom
filters, built on plain Parquet:

- `collect_file_stats` reads ONLY Parquet footers (row-group metadata
  via pyarrow), on the driver, next to the file listing it already
  holds, and returns them as an arrow local relation that runs no Spark
  job. No data page is touched: indexing 800k files costs 800k footer
  reads, not a 100 TB scan. Every lake this engine analyzes is local
  (`analyze` refuses remote roots), so a distributed footer pass only
  ever reached the local cores, through forked Python workers; at
  5,000 files the driver pass is about 7x faster (SCALE.md "Footer
  stats on the driver").
- `prune_files` evaluates a range/equality predicate against the stats
  table (metadata-scale: #files × #columns rows) and returns the files
  that can possibly match. Files with missing/NULL stats are always
  kept — skipping is an optimization and must be fail-open.
- `pruned_scan` wires it into a read: matching files + any file on
  disk NOT covered by the stats (stale-index safety) are read with
  `basePath` set so hive partition columns survive, and the original
  predicate is re-applied — pruning never changes results, only I/O.
- `build_bloom_index` / `bloom_candidate_files` add equality skipping
  for high-cardinality keys where min/max zone maps are useless on
  unclustered data (every file spans the whole key range). The bloom
  bitset is built entirely JVM-side — k seeded `xxhash64` bits per
  key, packed into longs via `bit_or` aggregation — and stored
  LONG-FORM as (file, word, word_val) rows, so the index is an
  ordinary Parquet table of bounded rows (≤ num_bits/64 per file) and
  the probe is a join, not a driver loop. No false negatives by
  construction; false-positive rate is the standard
  (1 - e^(-k·n/m))^k — size num_bits ≈ 10× rows-per-file for ~1%.

Why min/max + clustering beats blooms for ranges: after
`layout.zorder_write` (or repartitionByRange), each file covers a
narrow slice of the clustered columns and zone maps prune near-
perfectly; blooms exist for the keys you did NOT cluster by.
"""

from __future__ import annotations

import datetime as _dt
import os
from pathlib import Path
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATS_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("file", "column", "kind", "min_v", "max_v")]
    + [T.StructField(c, T.LongType()) for c in ("null_count", "num_rows", "size_bytes")]
)


def list_parquet_files(root: str | Path) -> list[str]:
    """All data files under `root` (recursive, hive-partition aware),
    skipping Spark/metadata artifacts. Listing is metadata-scale; on an
    object store this is the LIST call every reader already pays."""
    root = Path(root)
    if root.is_file():
        return [str(root)]
    out = []
    for dirpath, dirs, files in os.walk(root):
        # never descend into zone-rewrite / compaction staging dirs —
        # a crashed or in-flight optimize_zone/dedup_zone/compact
        # leaves `<table>.dedup.tmp/.old` / `.compact.tmp` siblings
        # whose files would otherwise ride the stale-index fail-open
        # union and DUPLICATE every surviving row
        dirs[:] = [
            d
            for d in dirs
            if not d.endswith((".dedup.tmp", ".dedup.old", ".compact.tmp"))
        ]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(str(Path(dirpath) / f))
    return sorted(out)


def _strip_uri(p: str) -> str:
    """`input_file_name()` yields file:///x URIs; the footer walk
    yields plain paths. One canonical (plain) form, or the stale-index
    fail-open union would treat the same file as two and read it
    twice."""
    if p.startswith("file://"):
        return p[len("file://") :]
    if p.startswith("file:"):
        return p[len("file:") :]
    return p


def _make_ts_micros():
    """Build the ONE datetime→exact-unix-micros converter shared by the
    driver-side `_canon` and the executor-side footer closure.

    EXACT integer micros: datetime.timestamp() routes through a float64
    whose ~0.24 µs resolution at current epochs can come back 1 µs low
    under int() truncation — a window bound built from this image would
    then disagree with an engine's exact MIN/MAX by one microsecond
    sliver. timedelta division is exact integer arithmetic.

    Factory-nested on purpose: the returned closure's qualified name
    (`_make_ts_micros.<locals>._ts_micros`) is not importable, so
    cloudpickle ships it BY VALUE in any worker closure that captures
    it, without importing this package on the worker, while the epoch
    arithmetic lives in exactly one place (ADVICE r10)."""
    import datetime as _d

    def _ts_micros(value: "_d.datetime") -> int:
        if value.tzinfo is None:
            value = value.replace(tzinfo=_d.timezone.utc)
        epoch = _d.datetime(1970, 1, 1, tzinfo=_d.timezone.utc)
        return (value - epoch) // _d.timedelta(microseconds=1)

    return _ts_micros


_ts_micros = _make_ts_micros()


def _canon(value):
    """Canonicalize a predicate bound to the stats table's string image:
    timestamps → unix micros, dates → epoch days, bool → int. Returns
    (kind, canonical_value)."""
    if isinstance(value, bool):
        return "int", int(value)
    if isinstance(value, _dt.datetime):
        return "int", _ts_micros(value)
    if isinstance(value, _dt.date):
        return "int", (value - _dt.date(1970, 1, 1)).days
    if isinstance(value, int):
        return "int", value
    if isinstance(value, float):
        return "float", value
    return "str", str(value)


def _canon_arrow(value, logical_type):
    """Map a pyarrow footer statistic to (kind, canonical value) — the
    same image `_canon` produces for predicate bounds, so comparisons
    line up. Unknown types -> (None, None) = unprunable."""
    lt = str(logical_type).upper()
    if value is None:
        return None, None
    if lt.startswith("TIMESTAMP"):
        if isinstance(value, _dt.datetime):
            return "int", _ts_micros(value)
        return "int", int(value)
    if lt.startswith("DATE"):
        if isinstance(value, _dt.datetime):
            value = value.date()
        if isinstance(value, _dt.date):
            return "int", (value - _dt.date(1970, 1, 1)).days
        return "int", int(value)
    if lt.startswith("DECIMAL"):
        return "float", float(value)
    if isinstance(value, bool):
        return "int", int(value)
    if isinstance(value, int):
        return "int", value
    if isinstance(value, float):
        return "float", value
    if isinstance(value, bytes):
        try:
            return "str", value.decode("utf-8")
        except UnicodeDecodeError:
            return None, None
    if isinstance(value, str):
        return "str", value
    if isinstance(value, _dt.datetime):
        return "int", _ts_micros(value)
    if isinstance(value, _dt.date):
        return "int", (value - _dt.date(1970, 1, 1)).days
    return None, None


def _footer_rows(path: str) -> list[dict]:
    """One file's stats rows (keyed by STATS_SCHEMA's names), one per
    top-level column, from row-group min/max/nulls in its footer.
    Columns without usable stats (the writer omitted them, or a bound
    does not canonicalize) get NULL min/max — prune keeps those files."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    # name -> [kind, min, max, nulls, has_stats]
    acc: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaf — not a top-level prunable col
                continue
            ent = acc.setdefault(name, [None, None, None, 0, True])
            st = col.statistics
            if st is None or not st.has_min_max:
                ent[4] = False
                continue
            kind, mn = _canon_arrow(st.min, st.logical_type)
            _, mx = _canon_arrow(st.max, st.logical_type)
            if kind is None or mn is None or mx is None:
                # either bound un-canonicalizable (e.g. non-UTF8 max on
                # a binary column): the whole pair is unusable —
                # recording a one-sided bound would understate the
                # range and prune wrongly
                ent[4] = False
                continue
            ent[0] = kind
            ent[1] = mn if ent[1] is None else min(ent[1], mn)
            ent[2] = mx if ent[2] is None else max(ent[2], mx)
            if st.null_count is not None:
                ent[3] += st.null_count
    size = os.path.getsize(path)
    return [
        {
            "file": path,
            "column": name,
            "kind": kind if ok else None,
            "min_v": None if not ok or mn is None else str(mn),
            "max_v": None if not ok or mx is None else str(mx),
            "null_count": nulls,
            "num_rows": md.num_rows,
            "size_bytes": size,
        }
        for name, (kind, mn, mx, nulls, ok) in acc.items()
    ]


def file_stat_rows(files: Iterable[str]) -> list[dict]:
    """The stats rows of `files`, read from their Parquet footers on the
    driver: #files × #top-level columns rows, no data page opened."""
    return [row for f in files for row in _footer_rows(f)]


def collect_file_stats(
    spark: SparkSession, path: str | Path, files: Iterable[str] | None = None
) -> DataFrame:
    """Footer-only stats of every parquet file under `path` (or of
    `files`), long-form per STATS_SCHEMA; kind ∈ {int, float, str} after
    canonicalization (timestamps → unix micros, dates → epoch days).

    The footers are read on the driver with pyarrow and the rows come
    back as an arrow local relation: building it, filtering it and
    collecting it run no Spark job. Driver payload: #files × #top-level
    columns rows. Cost: one footer read (a few KB) per file, never a
    data page."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    flist = list(files) if files is not None else list_parquet_files(path)
    table = pa.Table.from_pylist(
        file_stat_rows(flist), schema=to_arrow_schema(STATS_SCHEMA)
    )
    return spark.createDataFrame(table)


def _session_tz_aware(spark, v):
    """Pin a NAIVE datetime bound to the Spark session's timezone.
    `_canon` would read it as UTC while `F.lit` reads it in the
    session tz — in a non-UTC session the prune bound and the
    re-applied filter bound would disagree by the UTC offset and
    pruning could drop files holding matching rows. An AWARE datetime
    is unambiguous on both paths."""
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        from zoneinfo import ZoneInfo

        return v.replace(
            tzinfo=ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
        )
    return v


def _cast_for(kind_col, v_col):
    """Typed view of the canonical string image for comparison.
    Comparing at double precision is safe even for int64 beyond 2^53:
    round-to-nearest is monotonic non-decreasing, so min <= hi implies
    round(min) <= round(hi) — precision loss can only FAIL to prune a
    file, never wrongly drop one."""
    return (
        F.when(kind_col == "int", v_col.cast("decimal(38,0)").cast("double"))
        .when(kind_col == "float", v_col.cast("double"))
        .otherwise(F.lit(None).cast("double"))
    )


def prune_files(
    stats: DataFrame,
    column: str,
    lo=None,
    hi=None,
) -> list[str]:
    """Files that can possibly contain a row with `column` in
    [lo, hi] (either bound optional; lo == hi is equality). Fail-open:
    a file is dropped ONLY when its stats row exists, has non-null
    min/max of a comparable kind, and provably excludes the range.
    Returns kept-of-indexed, so it must enumerate the index — the
    QUERY path (`pruned_scan`) avoids that by collecting only the
    DROPPED set, whose payload is O(provably-excluded files)."""
    dropped = _dropped_files(stats, column, lo, hi)
    indexed = {
        _strip_uri(r["file"])
        for r in stats.select("file").distinct().collect()
    }
    return sorted(indexed - dropped)


def _dropped_files(
    stats: DataFrame,
    column: str,
    lo=None,
    hi=None,
) -> set[str]:
    """Files the zone maps PROVE cannot hold a row of `column` in
    [lo, hi] — the only set `pruned_scan` needs. The old inventory
    path collected every indexed file (a distinct + left join +
    O(#all files) driver payload) to compute keep/indexed separately;
    since dropped ⊆ indexed,

        (keep ∩ on_disk) ∪ (on_disk − indexed) == on_disk − dropped

    so subtracting the dropped set from the scan's own directory
    listing is exactly the fail-open result with a collect payload of
    O(excluded files) and a plain filter job (no join, no distinct
    inventory) — the guide-§5 driver-memory ceiling VERDICT r11 #6
    asked for."""
    s = stats.filter(F.col("column") == column)
    k_lo = _canon(lo) if lo is not None else None
    k_hi = _canon(hi) if hi is not None else None
    drop = F.lit(False)
    kind = F.col("kind")
    if k_lo is not None:
        if k_lo[0] == "str":
            drop = drop | ((kind == "str") & (F.col("max_v") < F.lit(k_lo[1])))
        else:
            drop = drop | (
                kind.isin("int", "float")
                & (_cast_for(kind, F.col("max_v")) < F.lit(float(k_lo[1])))
            )
    if k_hi is not None:
        if k_hi[0] == "str":
            drop = drop | ((kind == "str") & (F.col("min_v") > F.lit(k_hi[1])))
        else:
            drop = drop | (
                kind.isin("int", "float")
                & (_cast_for(kind, F.col("min_v")) > F.lit(float(k_hi[1])))
            )
    dropped = (
        s.filter(F.col("min_v").isNotNull() & F.col("max_v").isNotNull() & drop)
        .select("file")
        .distinct()
    )
    return {_strip_uri(r["file"]) for r in dropped.collect()}


def pruned_scan(
    spark: SparkSession,
    root: str | Path,
    stats: DataFrame,
    column: str,
    lo=None,
    hi=None,
) -> DataFrame:
    """Range scan that opens only the files the stats index cannot
    rule out, PLUS any file on disk the index has never seen (stale
    index ⇒ fail-open, the Delta 'files not in the log' analogue
    inverted for plain Parquet). `basePath` keeps hive partition
    columns; the predicate is re-applied so skipping can never change
    results — only how many files back the scan."""
    lo = _session_tz_aware(spark, lo)
    hi = _session_tz_aware(spark, hi)
    on_disk = set(list_parquet_files(root))
    # on_disk − dropped ≡ (keep ∩ on_disk) ∪ (on_disk − indexed), the
    # fail-open set (see _dropped_files): stale index entries naming
    # deleted files vanish in the subtraction, never-indexed files on
    # disk survive it, and a file is skipped only on zone-map proof.
    chosen = sorted(on_disk - _dropped_files(stats, column, lo, hi))
    if not chosen:
        # degenerate: nothing can match, but Spark needs ≥1 path for
        # schema — read everything's schema via the root with a
        # false predicate
        return spark.read.parquet(str(root)).filter(F.lit(False))
    df = spark.read.option("basePath", str(root)).parquet(*chosen)
    c = F.col(column)
    if lo is not None:
        df = df.filter(c >= F.lit(lo))
    if hi is not None:
        df = df.filter(c <= F.lit(hi))
    return df


# ---------------------------------------------------------------------------
# Bloom file index (equality skipping for unclustered high-cardinality keys)
# ---------------------------------------------------------------------------

BLOOM_SCHEMA = "file string, word int, word_val long"


def _bloom_bits(col, num_bits: int, num_hashes: int):
    """Array of `num_hashes` bit positions for a key, via seeded
    xxhash64 (seed mixed in as a second hashed column — same
    computation on build and probe, all JVM-side)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(col.cast("string"), F.lit(i)), F.lit(num_bits)).cast(
                "int"
            )
            for i in range(num_hashes)
        ]
    )


def build_bloom_index(
    spark: SparkSession,
    path: str | Path,
    key: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Per-file bloom bitset over `key`, long-form (file, word,
    word_val): word = bit div 64, word_val = OR of the set bit masks.
    Build is one column-pruned scan of `key` (footers ensure only that
    column's pages are read), a distinct on (file, bit) — bounded by
    num_bits per file regardless of row count — and a `bit_or` pack.
    Shuffle carries (file, bit) ints only, never the key values.
    Size num_bits ≈ 10× rows-per-file for ~1% fpp at 5 hashes; at
    128 MB/1M-row files that is 10M bits = 156k long-form rows max,
    ~1.25 MB — per file, an ordinary Parquet table."""
    # read the staging-aware file list explicitly — a bare read of the
    # root would also index files under a crashed rewrite's
    # .dedup.tmp/.old dirs, and a later candidate scan would return
    # every matching row twice
    flist = list_parquet_files(path)
    if not flist:
        return spark.createDataFrame([], BLOOM_SCHEMA)
    df = (
        spark.read.option("basePath", str(path))
        .parquet(*flist)
        .select(
            F.regexp_replace(F.input_file_name(), "^file:(//)?", "").alias("file"),
            F.col(key).alias("k"),
        )
        .filter(F.col("k").isNotNull())
    )
    bits = (
        df.select("file", F.explode(_bloom_bits(F.col("k"), num_bits, num_hashes)).alias("bit"))
        .distinct()
        .select(
            "file",
            (F.col("bit") / 64).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), bit % 64)").alias("mask"),
        )
    )
    return bits.groupBy("file", "word").agg(F.bit_or("mask").alias("word_val"))


def bloom_candidate_files(
    spark: SparkSession,
    blooms: DataFrame,
    value,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> list[str]:
    """Files that may contain `key == value` — no false negatives (a
    file holding the value has every probe bit set by construction).
    The probe computes the value's (word, mask) pairs with the SAME
    JVM expression used at build time, joins them to the long-form
    index, and keeps files where every probe word is present with all
    mask bits set. Join cost: num_hashes rows × index — metadata
    scale."""
    probe = (
        spark.range(1)
        .select(F.explode(_bloom_bits(F.lit(value), num_bits, num_hashes)).alias("bit"))
        .select(
            (F.col("bit") / 64).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), bit % 64)").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("mask"))
    )
    n_words = probe.count()
    hits = (
        blooms.join(F.broadcast(probe), "word")
        .filter(F.bitwise_not(F.col("word_val")).bitwiseAND(F.col("mask")) == 0)
        .groupBy("file")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") == n_words)
    )
    return sorted(_strip_uri(r["file"]) for r in hits.collect())


def bloom_point_scan(
    spark: SparkSession,
    root: str | Path,
    blooms: DataFrame,
    key: str,
    value,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Equality scan backed by the bloom index: open only candidate
    files (+ any file the index has never seen — fail-open like
    `pruned_scan`), re-apply the predicate. At 800k files a point
    lookup touches ~fpp × 800k + 1 files instead of all of them."""
    on_disk = set(list_parquet_files(root))
    indexed = {_strip_uri(r["file"]) for r in blooms.select("file").distinct().collect()}
    cand = set(bloom_candidate_files(spark, blooms, value, num_bits, num_hashes))
    # cand ∩ on_disk: stale-index paths a rewrite deleted must fail
    # open (the never-indexed union covers the new files), not crash
    chosen = sorted((cand & on_disk) | (on_disk - indexed))
    if not chosen:
        return spark.read.parquet(str(root)).filter(F.lit(False))
    return (
        spark.read.option("basePath", str(root))
        .parquet(*chosen)
        .filter(F.col(key) == F.lit(value))
    )
