"""`ingest_index`: the reference's write path, ingest to searchable.

Closed loop, one client thread. The run starts on a fresh lake, which
set-up warms with one cycle (periodic work included) and a stats index
(`analyze`), so `maintain()` has stale stats to refresh. Each cycle
sends one `ingest_batch` of B seeded records, drains the change feed
into the search index with `index_cdc()` (availableNow), runs one
verifying BM25 `search` for the token planted in that batch and reads
one of the batch's records back with `query(type="id")`. Every
Mth cycle also promotes raw to processed (`process()`), upserts a seeded
slice into a versioned curated table (`merge_versioned`) and runs
`maintain()`. The loop stops at the end of the first M-cycle round that
ends after `--seconds`, so every run measures whole rounds and the
periodic promote and maintenance always weigh the same in throughput.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from pathlib import Path

import gen
from harness import Context, geomean, median, tree_bytes

B = 250  # records per ingest_batch
M = 2  # every Mth cycle also runs process, merge_versioned and maintain
CURATED_KEYS = 2_000  # rows of the versioned curated table at set-up
CURATED_FILES = 8
UPSERT_ROWS = 100
OPS = ("ingest_batch", "index_cdc", "search", "lookup", "process", "merge_versioned", "maintain")
TELEMETRY = ("_metrics", "_stream_metrics")  # traced-run artifacts


class Lake:
    """One lake root driven through the engine's public API."""

    def __init__(self, ctx: Context, root: Path, texts: list[str]):
        from serverless_datalake_aws_spark.engine import DataLakeEngine

        self.ctx, self.root, self.texts = ctx, root, texts
        self.warm = True  # set-up cycles are neither timed nor checked
        self.eng = DataLakeEngine(ctx.spark, root)
        self.payload_all = 0  # every accepted payload byte, set-up included
        self.payload = 0  # accepted payload bytes of the measured cycles
        self.searchable = 0
        self.written: dict[str, int] = defaultdict(int)
        self.windows: list[tuple[str, int, int]] = []  # traced: (op, start, end) in ns
        self.bookkeeping_s = 0.0  # traced: time in _bookkeeping, outside every sample
        self.curated_keys = set(range(CURATED_KEYS))
        spark = ctx.spark
        # range() splits the keys into contiguous slices: one key range
        # per file, without a sampling job
        curated = spark.range(0, CURATED_KEYS, 1, CURATED_FILES).selectExpr(
            "id AS k", "CAST(id % 997 AS DOUBLE) AS amount", "'c0' AS tag"
        )
        self.eng.publish_versioned("curated", curated)

    def _op(self, name: str, fn, *args, **kwargs):
        if self.warm:
            return fn(*args, **kwargs)
        t0 = time.time_ns()
        out = self.ctx.op(name, fn, *args, **kwargs)
        if self.ctx.tracer is not None:
            self.windows.append((name, t0, time.time_ns()))
        return out

    @property
    def traced(self) -> bool:
        """A measured cycle of a traced run, which counts the lake's files."""
        return self.ctx.tracer is not None and not self.warm

    def charge_written(self) -> None:
        """Charge the bytes of the files each pending operation wrote (by
        mtime, within the operation's window) to that operation."""
        for name, start, end in self.windows:
            self.written[name] += tree_bytes(self.root, start, TELEMETRY, until_ns=end)
        self.windows.clear()

    @contextlib.contextmanager
    def _bookkeeping(self):
        """File listings for the traced run's counters, made after the
        samples they could inflate are taken. Their time is left out of
        the measured wall."""
        t0 = time.perf_counter()
        self.charge_written()
        yield
        self.bookkeeping_s += time.perf_counter() - t0

    def cycle(self, k: int, heavy: bool) -> None:
        ctx, eng = self.ctx, self.eng
        req = gen.ingest_request(ctx.seed, k, B, self.texts, warm=self.warm)
        t0 = time.perf_counter()
        ids = self._op("ingest_batch", eng.ingest_batch, req["records"], data_type=req["data_type"])
        self._op("index_cdc", eng.index_cdc)
        searchable = time.perf_counter() - t0
        t1 = time.perf_counter()
        hits = self._op("search.build", eng.search, req["token"], rank="bm25")
        hits = self._op("search.exec", hits.collect)
        # one of the batch's records, read back by id through the API's
        # query dispatch, as a client would after the ingest call
        probe = ids[req["probe"] % len(ids)] if ids else ""
        t2 = time.perf_counter()
        found = self._op("lookup.build", eng.query, "id", id=probe)
        rows = self._op("lookup.exec", found.collect)
        t3 = time.perf_counter()
        self.payload_all += gen.payload_bytes(req["records"])
        if not self.warm:
            ctx.samples["search"].append(t2 - t1)
            ctx.samples["lookup"].append(t3 - t2)
            ctx.samples["searchable"].append(searchable)
            self.payload += gen.payload_bytes(req["records"])
            ok = ctx.check(len(ids) == B, f"cycle {k}: {len(ids)} of {B} records accepted")
            ok &= ctx.check(
                sorted(r["id"] for r in hits) == sorted(ids),
                f"cycle {k}: search for {req['token']} returned {len(hits)} ids, not the batch's {len(ids)}",
            )
            ok &= ctx.check(
                [r["id"] for r in rows] == [probe],
                f"cycle {k}: lookup of {probe} returned {len(rows)} rows",
            )
            self.searchable += len(ids) if ok else 0
        if self.traced:
            with self._bookkeeping():
                meta_files = list((self.root / "_meta").rglob("*.parquet"))
                ctx.info.setdefault("lookup_files", []).append([len(found.inputFiles()), len(meta_files)])
        if heavy:
            self._heavy(k)

    def _heavy(self, k: int) -> None:
        ctx, eng = self.ctx, self.eng
        self._op("process", eng.process)
        rows = gen.upsert_slice(ctx.seed, k + (10_000 if self.warm else 0), CURATED_KEYS, UPSERT_ROWS)
        src = ctx.spark.createDataFrame(rows, "k long, amount double, tag string")
        version = self._op("merge_versioned", eng.merge_versioned, "curated", src, key="k")
        if self.traced:
            with self._bookkeeping():
                vdir = self.root / "versioned" / "curated" / f"_v={version}"
                files = list(vdir.glob("*.parquet"))
                fresh = sum(1 for f in files if f.stat().st_nlink == 1)
                ctx.info.setdefault("merge_files", []).append([fresh, len(files)])
        report = self._op("maintain", eng.maintain)
        self.curated_keys.update(r[0] for r in rows)
        n = eng.read_versioned("curated").count()
        ctx.check(n == len(self.curated_keys), f"cycle {k}: curated has {n} rows, not {len(self.curated_keys)}")
        ctx.check(isinstance(report, dict), f"cycle {k}: maintain returned {report!r}")


def run(ctx: Context) -> dict:
    """Set up, warm up, measure; returns the end-to-end metrics."""
    t_setup = time.perf_counter()
    phases = ctx.info["setup_phases_s"] = {}
    ctx.start_session()
    phases["session"] = time.perf_counter() - t_setup
    texts = gen.note_texts(ctx.seed)
    lake = Lake(ctx, ctx.workdir / "lake", texts)
    phases["lake"] = time.perf_counter() - t_setup - sum(phases.values())
    # warm-up at the measured batch size: one cycle with the periodic
    # work, so every code path of the loop has run once
    lake.cycle(0, heavy=True)
    lake.eng.analyze("raw")
    phases["warmup"] = time.perf_counter() - t_setup - sum(phases.values())
    lake.warm = False
    if ctx.tracer is not None:
        lake.eng.enable_metrics()
        lake.eng.enable_stream_metrics()
        ctx.info["indexed_ids_before"] = lake.eng.search_index().select("id").distinct().count()
        ctx.tracer.start_measuring()
    setup_s = time.perf_counter() - t_setup
    ctx.attempted = ctx.failed = 0  # the warm-up's checks are not the run's
    ctx.failures.clear()

    t0 = time.perf_counter()
    k = 0
    while True:
        with ctx.span("client.cycle"):
            try:
                lake.cycle(k, heavy=(k % M == M - 1))
            except Exception as exc:  # noqa: BLE001 - count it, keep measuring
                ctx.error(f"cycle {k}", exc)
        k += 1
        if k % M == 0 and time.perf_counter() - t0 >= ctx.seconds:
            break
    wall = time.perf_counter() - t0 - lake.bookkeeping_s
    lake.charge_written()  # the last cycle's periodic work

    s = ctx.samples
    ctx.info.update(
        cycles=k,
        rounds=k // M,
        records_searchable=lake.searchable,
        payload_bytes=lake.payload,
        lake_bytes=tree_bytes(lake.root, 0, TELEMETRY),
        bookkeeping_s=lake.bookkeeping_s,
        op_p50_s={op: median(s[op]) for op in OPS},
        samples_s={op: s[op] for op in OPS + ("searchable",)},
    )
    ctx.info["lake_bytes_per_payload_byte"] = ctx.info["lake_bytes"] / lake.payload_all
    ctx.info["bytes_written"] = dict(lake.written)
    ctx.lake = lake
    return {
        "setup_s": setup_s,
        "latency_p50_s": median(s["searchable"]),
        "throughput_per_s": lake.searchable / wall,
        "geomean_s": geomean(median(s[op]) for op in OPS),
    }


def layer_metrics(ctx: Context, put) -> None:
    """The traced run's per-layer numbers specific to this workload."""
    from pyspark.sql import functions as F

    lake, tr = ctx.lake, ctx.tracer
    eng = lake.eng
    for op in ("ingest_batch", "index_cdc", "process", "maintain"):
        put(f"engine.{op}.busy_s", tr.busy(f"engine.{op}")[0])
        put(f"engine.{op}.jobs", ctx.spark_work[op]["jobs"])
    for op in ("ingest_batch", "index_cdc"):
        put(f"engine.{op}.tasks", ctx.spark_work[op]["tasks"])
    put("engine.search.build_s", sum(ctx.samples["search.build"]))
    put("engine.search.exec_s", sum(ctx.samples["search.exec"]))
    put("engine.search.jobs", ctx.spark_work["search.build"]["jobs"] + ctx.spark_work["search.exec"]["jobs"])
    put("engine.query_by_id.build_s", sum(ctx.samples["lookup.build"]))
    put("engine.query_by_id.exec_s", sum(ctx.samples["lookup.exec"]))
    # files the lookup's scan lists per file of the metadata table
    lookups = ctx.info.get("lookup_files", [])
    put("engine.query_by_id.files_read_ratio",
        sum(r for r, _ in lookups) / max(sum(n for _, n in lookups), 1))
    put("streaming.drain.busy_s", tr.busy("streaming.drain")[0])
    ctx.work.mark()  # let the streaming listener catch up
    sm = eng.stream_metrics().agg(F.count("batch_id"), F.sum("num_input_rows")).first()
    delivered = int(sm[1] or 0)
    put("streaming.batches", int(sm[0] or 0))
    put("streaming.input_rows", delivered)
    # ids the index gained per row the stream's micro-batches read: below
    # 1 when a batch reads its input more than once or is redelivered
    appended = eng.search_index().select("id").distinct().count() - ctx.info["indexed_ids_before"]
    put("engine.index_cdc.appended_per_delivered", appended / delivered if delivered else 0.0)
    put("sources.FileLock.wait_s", tr.busy("sources.FileLock.acquire")[0])
    put("sources.merge_versioned.busy_s", tr.busy("sources.merge_versioned")[0])
    merges = ctx.info.get("merge_files", [])
    put("sources.merge_versioned.files_rewritten_ratio",
        sum(f for f, _ in merges) / max(sum(n for _, n in merges), 1))
    put("lake.bytes_per_payload_byte", ctx.info["lake_bytes_per_payload_byte"])
    for op in ("ingest_batch", "index_cdc", "process", "merge_versioned", "maintain"):
        put(f"lake.{op}.bytes_written_per_payload_byte", lake.written[op] / max(lake.payload, 1))
    shuffle = eng.metrics().groupBy().sum("shuffle_bytes").first()[0]
    put("spark.shuffle_bytes", max(int(shuffle or 0), 0))
