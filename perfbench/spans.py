"""Span tracing for the traced benchmark run, kept outside the package.

`Tracer.install()` wraps every public function and public method that
the package's layer modules define, in place, and `uninstall()` puts the
originals back. Each wrapped call records a span: name, start, end,
parent span and request id. Spans stay in memory until the run ends.

The wrappers are installed by rebinding module and class attributes, and
every package-module global that refers to the same function object is
rebound too (`from x import y` at module top). A wrapper pickles as the
original function (by module and qualified name), so a UDF closure that
captured one still ships the untraced function to the Python workers.

Spans opened on another thread (the streaming `foreachBatch` callback
runs on the py4j callback thread while the client thread waits in
`drain`) are parented to the client thread's innermost open span.

`SparkWork` counts the jobs, stages and tasks Spark ran during one
operation, from the application's status tracker. The operation runs
under its own job group, but the count is taken over the job-id window
instead: job ids are dense, so the jobs of a window are the ids issued
in it, whichever thread launched them, while job groups are thread-local
and miss the jobs the streaming callback thread launches.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import operator
import pkgutil
import sys
import threading
import time
import types
from dataclasses import dataclass, field

PACKAGE = "serverless_datalake_aws_spark"
# The measured layers, one per package module or subpackage. `access` is
# deliberately absent: no workload uses it.
LAYERS = (
    "session",
    "engine",
    "sources",
    "streaming",
    "functions",
    "operators",
    "plans",
    "catalog",
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = -1.0
    parent: int | None = None
    request: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class _Traced:
    """Callable stand-in for one package function or method."""

    def __init__(self, fn, name: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._name = name
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return operator.attrgetter(self._fn.__qualname__), (
            _ModuleRef(self._fn.__module__),
        )


class _ModuleRef:
    """Pickles as `importlib.import_module(name)`."""

    def __init__(self, name: str):
        self.name = name

    def __reduce__(self):
        return importlib.import_module, (self.name,)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.measure_from = 0  # first span of the measured phase

    def start_measuring(self) -> None:
        """Spans opened from now on make the measured phase; the layer
        statistics below cover only them unless asked for set-up."""
        self.measure_from = len(self.spans)

    def _spans(self, setup: bool) -> list[Span]:
        return self.spans if setup else self.spans[self.measure_from:]

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._client:
            return self._client_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._client_stack[-1] if self._client_stack else None
        )
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter())
            self.spans.append(sp)
            if parent is not None:
                sp.parent = parent.sid
                sp.request = parent.request
                parent.children.append(sp.sid)
            else:
                sp.request = sp.sid
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        """Wrap the public functions of every layer module."""
        mods = _layer_modules()
        originals: dict[int, _Traced] = {}
        for mod in mods:
            layer = mod.__name__.split(".")[1]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    w = _Traced(obj, f"{layer}.{obj.__name__}", self)
                    originals[id(obj)] = w
                    self._set(mod, attr, w)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    if hasattr(obj, "Java") or _is_listener(obj):
                        continue  # called back asynchronously by the JVM
                    for m_name, m in list(vars(obj).items()):
                        if m_name.startswith("_") or not inspect.isfunction(m):
                            continue
                        prefix = "" if obj.__name__ == "DataLakeEngine" else f"{obj.__name__}."
                        self._set(obj, m_name, _Traced(m, f"{layer}.{prefix}{m_name}", self))
        # rebind `from module import fn` copies held by other modules
        for mod in _package_modules():
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and vars(mod).get(attr) is w._fn:
                    self._set(mod, attr, w)

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis -------------------------------------------------------
    def self_time(self, sp: Span) -> float:
        """Duration minus the union of the child spans' intervals."""
        ivs = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in (self.spans[i] for i in sp.children)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def check(self) -> dict:
        """Structural self-test: every span closed and nested inside its
        parent, and no negative self time."""
        eps = 1e-6
        bad_nest = open_ = neg = 0
        for sp in self.spans:
            if sp.end < 0:
                open_ += 1
                continue
            if sp.parent is not None:
                p = self.spans[sp.parent]
                if sp.start < p.start - eps or sp.end > p.end + eps:
                    bad_nest += 1
            if self.self_time(sp) < -eps:
                neg += 1
        return {
            "spans": len(self.spans),
            "unclosed": open_,
            "not_nested": bad_nest,
            "negative_self": neg,
            "ok": open_ == bad_nest == neg == 0,
        }

    def layer_of(self, sp: Span) -> str:
        return sp.name.split(".", 1)[0]

    def busy(self, name: str, setup: bool = False) -> tuple[float, int]:
        """(total seconds, calls) of the outermost spans named `name`."""
        total, n = 0.0, 0
        for sp in self._spans(setup):
            if sp.name != name:
                continue
            anc, nested = sp.parent, False
            while anc is not None:
                if self.spans[anc].name == name:
                    nested = True
                    break
                anc = self.spans[anc].parent
            if not nested:
                total += sp.duration
                n += 1
        return total, n

    def layer_busy(self, layer: str) -> float:
        """Seconds inside spans of `layer` not nested in a span of it."""
        total = 0.0
        for sp in self._spans(False):
            if self.layer_of(sp) != layer:
                continue
            p = sp.parent
            if p is None or self.layer_of(self.spans[p]) != layer:
                total += sp.duration
        return total

    def layer_self(self, layer: str) -> tuple[float, int]:
        spans = [sp for sp in self._spans(False) if self.layer_of(sp) == layer]
        return sum(self.self_time(sp) for sp in spans), len(spans)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def _is_listener(cls) -> bool:
    from pyspark.sql.streaming import StreamingQueryListener

    return issubclass(cls, StreamingQueryListener)


def _package_modules() -> list[types.ModuleType]:
    return [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE + ".") and m]


def _layer_modules() -> list[types.ModuleType]:
    """Import every module of the measured layers and return them."""
    mods = []
    for layer in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        mods.append(mod)
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__):
                mods.append(importlib.import_module(f"{mod.__name__}.{info.name}"))
    return mods


class SparkWork:
    """Jobs, stages and tasks run between two marks, by job-id window."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._next = 0

    def _settle(self) -> None:
        # status-tracker data arrives through the asynchronous listener
        # bus; wait until it has caught up before reading it
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._settle()
        while self.tracker.getJobInfo(self._next) is not None:
            self._next += 1
        return self._next

    def begin(self, name: str) -> int:
        self.sc.setJobGroup(f"perfbench-{name}", name)
        return self.mark()

    def end(self, j0: int) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return self.between(j0, self.mark())

    def between(self, j0: int, j1: int) -> dict:
        stages = tasks = failed = single = 0
        for j in range(j0, j1):
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
                single += st.numTasks == 1
        return {
            "jobs": j1 - j0,
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "single_task_stages": single,
        }
