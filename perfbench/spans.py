"""Spans around the benchmark's calls into the engine's layers.

A traced workload run is one ``run`` span. Each call into a layer is a
``layer`` span with a ``build`` child (the call itself: driver plan
build, plus any Spark job an API runs while it looks lazy) and, when the
result is forced, an ``exec`` child (the forcing action). While a phase
is open the Spark job group is the layer's name and the job description
is the phase span's id, so the event log ties every Spark job to the
phase that caused it (see ``eventlog.py``). Spans stay in memory and are
written out when the benchmark ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable, Optional

# the share of a traced run's wall time its layer spans may leave uncovered
ATTRIBUTION_BOUND = 0.05
# span ids are unique across every tracer of the process: the event log
# of one session holds the jobs of all its traced runs
_span_ids = itertools.count()


@dataclass
class Span:
    id: str
    parent: Optional[str]
    kind: str  # run | layer | build | exec | job
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Untraced:
    """The timed path: calls the layer directly, records nothing.

    ``split`` asks a workload to run the plan a traced run needs: each
    layer's work as its own Spark jobs, where the timed plan may fuse
    them. A traced invocation's untraced runs set it, so that traced
    against untraced wall time measures the instrumentation alone.
    """

    def __init__(self, split: bool = False):
        self.split = split

    def call(self, layer: str, build: Callable[[], Any], force: Optional[Callable] = None):
        out = build()
        return force(out) if force is not None else out

    @contextmanager
    def run(self, name: str):
        yield

    def wrap(self, obj, layer: str):
        return obj

    def count(self, layer: str, name: str, value: float) -> None:
        pass


class Tracer(Untraced):
    def __init__(self, sc):
        super().__init__(split=True)
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _open(self, kind: str, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"s{next(_span_ids)}", parent, kind, name, time.time())
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self) -> None:
        self._stack.pop().end = time.time()

    def _set_group(self) -> None:
        """Job group = innermost open layer, description = its open phase."""
        for k in range(len(self._stack) - 1, 0, -1):
            if self._stack[k].kind in ("build", "exec"):
                self.sc.setJobGroup(self._stack[k - 1].name, self._stack[k].id)
                return
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def _phase(self, kind: str):
        self._open(kind, kind)
        self._set_group()
        try:
            yield
        finally:
            self._close()
            self._set_group()

    def call(self, layer: str, build: Callable[[], Any], force: Optional[Callable] = None):
        self._open("layer", layer)
        try:
            with self._phase("build"):
                out = build()
            if force is not None:
                with self._phase("exec"):
                    out = force(out)
            return out
        finally:
            self._close()

    @contextmanager
    def run(self, name: str):
        self._open("run", name)
        try:
            yield
        finally:
            self._close()

    def wrap(self, obj, layer: str):
        """``obj`` with every method call traced as a call into ``layer``
        (for layers the engine calls, such as ``sources.tables`` from
        ``checkpoint``)."""
        return _Wrapped(obj, self, layer)

    def count(self, layer: str, name: str, value: float) -> None:
        """Add a count measured at ``layer`` to the latest run."""
        run = next(s for s in reversed(self.spans) if s.kind == "run")
        counts = run.attrs.setdefault("counts", {})
        key = f"{layer}.{name}"
        counts[key] = counts.get(key, 0) + value

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class _Wrapped:
    def __init__(self, obj, tracer: Tracer, layer: str):
        self._obj, self._tracer, self._layer = obj, tracer, layer

    def __getattr__(self, name):
        attr = getattr(self._obj, name)
        if not callable(attr):
            return attr
        return lambda *a, **k: self._tracer.call(self._layer, lambda: attr(*a, **k))


# ---- span arithmetic ---------------------------------------------------------


def covered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span: dict, kids: dict[str, list[dict]], kinds=None) -> float:
    """Duration minus the part its child spans (of ``kinds``, default
    all) cover."""
    ch = [c for c in kids.get(span["id"], []) if kinds is None or c["kind"] in kinds]
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in ch]
    )
