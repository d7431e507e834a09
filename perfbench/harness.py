"""Run context shared by the workloads: session lifecycle inside the
checkout, timed operations, output checks and the host witness."""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time
from collections import defaultdict
from pathlib import Path

CPUS = 4  # local[4]: the box this benchmark was sized on has 4 cores


class Context:
    """One benchmark run: its inputs, clock, samples and checks."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer, workdir: Path):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.workdir = workdir
        self.spark = None
        self.work = None  # spans.SparkWork, traced runs only
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.spark_work: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {}

    # -- session ----------------------------------------------------------
    def start_session(self):
        """The engine's own session factory on local[CPUS], with the
        JVM's temp dir inside the run's work directory (run.prepare_env
        puts the shuffle and Python temp dirs there) and no hsperfdata
        file in the system temp dir."""
        from serverless_datalake_aws_spark.session import get_session

        self.spark = get_session(
            app_name=f"perfbench-{self.workload}",
            cpus=CPUS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.workdir / 'tmp'} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            from spans import SparkWork

            self.work = SparkWork(self.spark)
        return self.spark

    def jvm_hwm_mb(self) -> float:
        """Peak resident set of the driver JVM (VmHWM), in MiB."""
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (AttributeError, OSError):
            pass
        return 0.0

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - make sure it is gone
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    # -- measurement --------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def op(self, name: str, fn, *args, **kwargs):
        """Run one timed operation; record its wall (and, when traced,
        the Spark jobs, stages and tasks it launched)."""
        j0 = self.work.begin(name) if self.work is not None else 0
        t0 = time.perf_counter()
        with self.span(f"client.{name}"):
            out = fn(*args, **kwargs)
        self.samples[name].append(time.perf_counter() - t0)
        if self.work is not None:
            self.add_work(name, self.work.end(j0))
        return out

    def add_work(self, name: str, work: dict) -> None:
        for k, v in work.items():
            self.spark_work[name][k] += v

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; remember the first failures."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 10:
                self.failures.append(what)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        self.check(False, f"{what}: {type(exc).__name__}: {str(exc)[:200]}")


# -- statistics -----------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# -- host witness ---------------------------------------------------------


def cpu_probe() -> dict:
    """Host-speed witness: bench.py's md5 CPU probe (one thread, then all
    cores) and the load average. A slow host window shows as larger
    values; no metric is rescaled by it."""
    from bench import _cpu_probe

    single, multi = _cpu_probe()
    return {
        "cpu_probe_s": single,
        "cpu_probe_mt_s": multi,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


# -- lake footprint -------------------------------------------------------


def tree_bytes(root: Path, since_ns: int = 0, skip: tuple[str, ...] = (), until_ns: int | None = None) -> int:
    """Bytes of the regular files under `root` last modified at or after
    `since_ns` (and at or before `until_ns`, when given), not counting
    top-level entries named in `skip`."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath == str(root):
            dirnames[:] = [d for d in dirnames if d not in skip]
        for f in filenames:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            if st.st_mtime_ns >= since_ns and (until_ns is None or st.st_mtime_ns <= until_ns):
                total += st.st_size
    return total


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
