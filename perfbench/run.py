"""Lake benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_index --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of this repository and drives the
engine package there through its public API. With `--trace 0` it prints
the end-to-end metrics; with `--trace 1` it wraps the package's layer
modules (spans.py) and prints the per-layer metrics instead. The line
before the result is a detail record: set-up phases, sample counts,
host witness (CPU probe and load average before and after), output
checks and, when traced, the span self-test.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import harness  # noqa: E402
from spans import LAYERS, Tracer  # noqa: E402

WORKLOADS = {"ingest_index": "lake", "analytics": "analytics"}
# Layers with measured-phase totals. `session` works only in set-up, which
# session.get_session.busy_s and session.jvm_hwm_mb cover.
MEASURED_LAYERS = tuple(layer for layer in LAYERS if layer != "session")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "geomean_s": "s",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric (name -> unit), in BENCHMARK.json order.
    Both workloads report all of them; a layer a workload does not
    exercise reads 0."""
    from analytics import MIX

    names: dict[str, str] = {}
    for layer in MEASURED_LAYERS:
        names[f"{layer}.busy_s"] = "s"
        names[f"{layer}.self_s"] = "s"
        names[f"{layer}.calls"] = "count"
    names.update({
        "session.get_session.busy_s": "s",
        "session.jvm_hwm_mb": "MiB",
        "catalog.table.busy_s": "s",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.shuffle_bytes": "bytes",
    })
    names.update({f"trace.{m}": u for m, u in END_TO_END.items()})
    for op in ("ingest_batch", "index_cdc"):
        names.update({f"engine.{op}.busy_s": "s", f"engine.{op}.jobs": "count", f"engine.{op}.tasks": "count"})
    names.update({
        "engine.index_cdc.appended_per_delivered": "ratio",
        "streaming.drain.busy_s": "s",
        "streaming.batches": "count",
        "streaming.input_rows": "count",
        "engine.search.build_s": "s",
        "engine.search.exec_s": "s",
        "engine.search.jobs": "count",
        "engine.query_by_id.build_s": "s",
        "engine.query_by_id.exec_s": "s",
        "engine.query_by_id.files_read_ratio": "ratio",
        "sources.FileLock.wait_s": "s",
        "engine.process.busy_s": "s",
        "engine.process.jobs": "count",
        "engine.maintain.busy_s": "s",
        "engine.maintain.jobs": "count",
        "sources.merge_versioned.busy_s": "s",
        "sources.merge_versioned.files_rewritten_ratio": "ratio",
        "lake.bytes_per_payload_byte": "ratio",
    })
    for op in ("ingest_batch", "index_cdc", "process", "merge_versioned", "maintain"):
        names[f"lake.{op}.bytes_written_per_payload_byte"] = "ratio"
    for q in MIX:
        names.update({
            f"plans.{q}.build_s": "s",
            f"plans.{q}.exec_s": "s",
            f"plans.{q}.jobs": "count",
            f"plans.{q}.tasks": "count",
            f"plans.{q}.single_task_stages": "count",
        })
    names["plans.single_task_stage_share"] = "ratio"
    return names


def prepare_env(workdir: Path) -> None:
    """Keep every file the run writes inside `workdir`, and let Spark's
    Python workers import the package from the checkout."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    # the JVM spark-class runs to build the launch command: no
    # hsperfdata file in the system temp dir either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def layer_metrics(ctx: harness.Context, mod, e2e: dict) -> dict:
    tr = ctx.tracer
    names = per_layer_names()
    out = dict.fromkeys(names, 0.0)

    def put(name: str, value) -> None:
        if name not in out:
            raise KeyError(f"undeclared per-layer metric {name}")
        out[name] = float(value)

    for layer in MEASURED_LAYERS:
        put(f"{layer}.busy_s", tr.layer_busy(layer))
        self_s, calls = tr.layer_self(layer)
        put(f"{layer}.self_s", self_s)
        put(f"{layer}.calls", calls)
    # these two move setup_s, so they cover set-up as well
    put("session.get_session.busy_s", tr.busy("session.get_session", setup=True)[0])
    put("catalog.table.busy_s", tr.busy("catalog.table", setup=True)[0])
    put("session.jvm_hwm_mb", ctx.jvm_hwm_mb())
    put("spark.jobs", sum(w["jobs"] for w in ctx.spark_work.values()))
    put("spark.tasks", sum(w["tasks"] for w in ctx.spark_work.values()))
    for m, v in e2e.items():
        put(f"trace.{m}", v)
    mod.layer_metrics(ctx, put)
    return {n: {"value": v, "unit": names[n]} for n, v in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        importlib.import_module("serverless_datalake_aws_spark.engine")
    except ImportError as exc:
        print(f"perfbench: the engine package is not in {ROOT}: {exc}", file=sys.stderr)
        return 2

    workdir = harness.reset_dir(ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}")
    prepare_env(workdir)

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
    mod = importlib.import_module(WORKLOADS[args.workload])
    ctx = harness.Context(args.workload, args.seed, args.seconds, tracer, workdir)
    host_pre = harness.cpu_probe()
    t0 = time.perf_counter()
    try:
        e2e = mod.run(ctx)
        if tracer is not None:
            trace_check = tracer.check()
            metrics = layer_metrics(ctx, mod, e2e)
        else:
            trace_check = None
            metrics = {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END.items()}
    finally:
        t_stop = time.perf_counter()
        ctx.stop_session()
        ctx.info["teardown_s"] = time.perf_counter() - t_stop
        if tracer is not None:
            tracer.uninstall()
        shutil.rmtree(workdir, ignore_errors=True)
    host_post = harness.cpu_probe()
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loop": "closed, 1 client thread",
        "cpus": harness.CPUS,
        "run_wall_s": time.perf_counter() - t0,
        "end_to_end": e2e,
        "host_before": host_pre,
        "host_after": host_post,
        "checks": {"attempted": ctx.attempted, "failed": ctx.failed, "failures": ctx.failures},
        "span_check": trace_check,
        **ctx.info,
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0 and (trace_check is None or trace_check["ok"]),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
