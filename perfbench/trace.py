"""Spans around the public functions of each ``arrow_spark`` layer.

``Tracer.install`` wraps the listed functions in place. It must run
before ``arrow_spark.queries.load_all()`` imports the query modules:
those modules bind names such as ``from arrow_spark.catalog import
table`` at import time, so a wrapper installed later would not be seen.
For modules already imported, ``install`` also rebinds every module
attribute that still points at the original function.

Spans are kept in memory. Each records its name, start, end, parent
span, operation id, the thread it ran on and the Spark jobs submitted
while it was open. A layer's self time is its spans' durations minus the
parts covered by their child spans on the same thread.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

#: layer -> (module, function) pairs wrapped in a traced run. The layers
#: are the package's own modules; ``spark`` (execution) and ``queries``
#: (building a registered query's DataFrame) are spans the benchmark
#: opens itself around the calls it makes.
TARGETS: dict[str, list[tuple[str, str]]] = {
    "session": [("arrow_spark.session", "get_spark")],
    "catalog": [("arrow_spark.catalog", "table")],
    "plans": [
        ("arrow_spark.plans.substrait", "run_substrait"),
        ("arrow_spark.plans.declaration", "compile_plan"),
    ],
    "checkpoint": [
        ("arrow_spark.checkpoint", "ckpt_reset_stats"),
        ("arrow_spark.checkpoint", "ckpt_release"),
    ],
    "operators": [
        ("arrow_spark.operators.pagerank", "pagerank"),
        ("arrow_spark.operators.labelprop", "label_propagation"),
        ("arrow_spark.operators.kcore", "k_core"),
        ("arrow_spark.operators.ktruss", "k_truss"),
        ("arrow_spark.operators.shortest_paths", "shortest_paths"),
        ("arrow_spark.operators.triangles", "count_triangles"),
    ],
    "llm": [
        ("arrow_spark.llm.dedup", "connected_components"),
    ],
    "sources": [
        ("arrow_spark.sources.dataset", "write_dataset"),
        ("arrow_spark.sources.dataset", "read_dataset"),
        ("arrow_spark.sources.ipc", "write_ipc"),
        ("arrow_spark.sources.ipc", "read_ipc"),
        ("arrow_spark.sources.flight", "write_flight"),
        ("arrow_spark.sources.flight", "read_flight"),
    ],
    "streaming": [
        ("arrow_spark.streaming.windows", "tumbling_window_agg"),
        ("arrow_spark.streaming.windows", "stream_from_directory"),
        ("arrow_spark.streaming.sink", "idempotent_sink"),
    ],
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    main: bool
    jobs: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled`` switches recording off
    without removing the wrappers, so a traced run can also time passes
    untraced."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self.op = -1
        #: returns the number of Spark jobs submitted so far
        self.job_counter = lambda: 0
        self._local = threading.local()
        self._main = threading.main_thread()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        if not self.enabled:
            return nullcontext()
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = True
        return traced

    def install(self, targets=TARGETS) -> list[str]:
        """Wrap every target in place; returns the span names installed."""
        names = []
        for layer, pairs in targets.items():
            for mod_name, attr in pairs:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                if getattr(orig, "__wrapped_by_perfbench__", False):
                    continue
                wrapped = self.wrap(f"{layer}.{attr}", orig)
                for other in list(sys.modules.values()):
                    if getattr(other, "__name__", "").startswith("arrow_spark"):
                        for key, val in list(vars(other).items()):
                            if val is orig:
                                setattr(other, key, wrapped)
                setattr(mod, attr, wrapped)
                names.append(f"{layer}.{attr}")
        return names


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        with t._lock:
            self.sid = t._next
            t._next += 1
        st = t._stack()
        self.parent = st[-1] if st else None
        st.append(self.sid)
        self.jobs0 = t.job_counter()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.t
        t._stack().pop()
        span = Span(
            self.sid,
            self.name,
            self.start,
            end,
            self.parent,
            t.op,
            threading.current_thread() is t._main,
            t.job_counter() - self.jobs0,
        )
        with t._lock:
            t.spans.append(span)
        return False


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer over main-thread spans: each span's duration
    minus its direct children's durations. Spans on other threads (a
    Flight server, a streaming batch) overlap the client's spans, so they
    are left out of the partition."""
    main = [s for s in spans if s.main]
    child_sum: dict[int, float] = {}
    for s in main:
        if s.parent is not None:
            child_sum[s.parent] = child_sum.get(s.parent, 0.0) + s.dur
    out: dict[str, float] = {}
    for s in main:
        out[s.layer] = out.get(s.layer, 0.0) + s.dur - child_sum.get(s.sid, 0.0)
    return out


def top_level(spans: list[Span]) -> list[Span]:
    return [s for s in spans if s.main and s.parent is None]


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: with n sorted samples the value is
    the (n - beyond)-th smallest, i.e. percentile 100·(n - beyond)/n. A
    tail at or below the median says nothing, so when there are at most
    2·``beyond`` samples, which leaves no such percentile above p50, the
    maximum (p100) is returned instead.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - beyond
    if 2 * k <= n:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n
