"""`analytics`: the Athena twin, registered plans over fixture tables.

Closed loop, one client thread. Each pass runs a fixed mix of six
registered `plans` callables over the fixture tables, in an order drawn
from the seed, each forced to full execution through a `noop` sink. The
engine API is bypassed: `plans`, `operators` and `functions` do the
work. The mix holds a single-task-stage row (p06), the rows a
blanket repartition slowed (s21, x03, q81), and one row each for the
relational scan (q01) and event windows (e03).

The fixture is fixed (gen.write_fixture with FIXTURE_SEED), so each
query's row count and order-insensitive value digest can be checked
against values recorded from the seed commit (expected_analytics.json).
Every run writes the digests it got into its detail record (`digests`).
"""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path

import gen
from harness import Context, geomean, median

MIX = (
    "q01_pricing_summary",
    "q81_skew_join_aqe",
    "e03_sessionize",
    "x03_bm25",
    "p06_curation_pipeline",
    "s21_ivf_pq_ann",
)
FIXTURE_SEED = 42
# set-up passes over the mix; the first also checks every result. On 4
# cores the first pass runs ~2.5x the second, and later passes still
# drop ~10% each (JIT)
WARMUP_PASSES = 2
MIN_PASSES = 2  # measured passes, so each query has more than one sample
EXPECTED = Path(__file__).with_name("expected_analytics.json")


def digest(df) -> list:
    """[row count, order-insensitive value hash] of a result, by the
    testing._normalize convention: columns in name order, floating
    values rounded to 6 places, rows as a multiset (sum of row hashes)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def norm(c: str, dt):
        col = F.col(f"`{c}`")
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return F.round(col.cast("double"), 6)
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, (T.DoubleType, T.FloatType)):
            return F.transform(col, lambda x: F.round(x.cast("double"), 6))
        return col

    row_hash = F.xxhash64(*[norm(c, df.schema[c].dataType) for c in sorted(df.columns)])
    r = df.select(row_hash.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    ).first()
    return [int(r["n"]), str(r["s"] or 0)]


def run(ctx: Context) -> dict:
    """Set up, warm up (checking every result), measure."""
    from serverless_datalake_aws_spark.plans import all_queries

    t_setup = time.perf_counter()
    sf_dir = ctx.workdir / "fixture"
    ctx.info["fixture_bytes"] = gen.write_fixture(FIXTURE_SEED, sf_dir)
    ctx.info["fixture_rows"] = gen.FIXTURE_ROWS
    spark = ctx.start_session()
    ctx.info["session_s"] = time.perf_counter() - t_setup
    queries = all_queries()
    expected = json.loads(EXPECTED.read_text())["queries"]
    rng = gen.rng_for(ctx.seed, "mix")
    # warm-up at the measured input size; the first pass is also the
    # check pass
    warm_s = ctx.info["warmup_s"] = {}
    digests = ctx.info["digests"] = {}
    for q in (MIX[i] for i in rng.permutation(len(MIX))):
        tq = time.perf_counter()
        try:
            got = digests[q] = digest(queries[q](spark, str(sf_dir)))
            ctx.check(got == expected[q], f"{q}: got {got}, expected {expected[q]}")
        except Exception as exc:  # noqa: BLE001 - count it, keep going
            ctx.error(q, exc)
        warm_s[q] = time.perf_counter() - tq
    warm_pass_s = ctx.info["warmup_pass_s"] = [sum(warm_s.values())]
    for _ in range(WARMUP_PASSES - 1):
        tp = time.perf_counter()
        for q in (MIX[i] for i in rng.permutation(len(MIX))):
            # failures count in the check pass and the measured passes
            with contextlib.suppress(Exception):
                queries[q](spark, str(sf_dir)).write.format("noop").mode("overwrite").save()
        warm_pass_s.append(time.perf_counter() - tp)
    if ctx.tracer is not None:
        from serverless_datalake_aws_spark.engine import DataLakeEngine

        ctx.metrics_engine = DataLakeEngine(spark, ctx.workdir / "metrics")
        ctx.metrics_engine.enable_metrics()
        ctx.tracer.start_measuring()
    setup_s = time.perf_counter() - t_setup

    t0 = time.perf_counter()
    passes = []
    while True:
        tp = time.perf_counter()
        for q in (MIX[i] for i in rng.permutation(len(MIX))):
            try:
                run_query(ctx, queries[q], q, str(sf_dir))
                ctx.check(True, q)
            except Exception as exc:  # noqa: BLE001
                ctx.error(q, exc)
        passes.append(time.perf_counter() - tp)
        if len(passes) >= MIN_PASSES and time.perf_counter() - t0 >= ctx.seconds:
            break
    wall = time.perf_counter() - t0
    per_query = {q: median(ctx.samples[q]) for q in MIX}
    ctx.info.update(passes=len(passes), pass_s=passes, query_p50_s=per_query)
    return {
        "setup_s": setup_s,
        "latency_p50_s": median(passes),
        "throughput_per_s": len(MIX) * len(passes) / wall,
        "geomean_s": geomean(per_query.values()),
    }


def run_query(ctx: Context, fn, name: str, sf_dir: str) -> None:
    """Build (the callable returns) then execute (the noop sink ends)."""
    j0 = ctx.work.begin(name) if ctx.work is not None else 0
    t0 = time.perf_counter()
    with ctx.span(f"client.{name}"):
        with ctx.span(f"plans.{name}.build"):
            df = fn(ctx.spark, sf_dir)
        t1 = time.perf_counter()
        with ctx.span(f"plans.{name}.exec"):
            df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    ctx.samples[name].append(t2 - t0)
    ctx.samples[f"{name}.build"].append(t1 - t0)
    ctx.samples[f"{name}.exec"].append(t2 - t1)
    if ctx.work is not None:
        ctx.add_work(name, ctx.work.end(j0))


def layer_metrics(ctx: Context, put) -> None:
    """The traced run's per-layer numbers specific to this workload."""
    stages = single = 0
    for q in MIX:
        w = ctx.spark_work[q]
        put(f"plans.{q}.build_s", median(ctx.samples[f"{q}.build"]))
        put(f"plans.{q}.exec_s", median(ctx.samples[f"{q}.exec"]))
        n = max(len(ctx.samples[q]), 1)
        put(f"plans.{q}.jobs", w["jobs"] / n)
        put(f"plans.{q}.tasks", w["tasks"] / n)
        put(f"plans.{q}.single_task_stages", w["single_task_stages"] / n)
        stages += w["stages"]
        single += w["single_task_stages"]
    put("plans.single_task_stage_share", single / stages if stages else 0.0)
    shuffle = ctx.metrics_engine.metrics().groupBy().sum("shuffle_bytes").first()[0]
    put("spark.shuffle_bytes", max(int(shuffle or 0), 0))

