"""In-memory spans around the engine's public entry points.

``Tracer.span`` records (name, start, end, parent, thread) for a block;
``installed`` wraps the engine's public functions so their calls become
spans, and restores the originals on exit.  Spans stay in memory and
are summarised when the run ends.

Parents: a span's parent is the innermost open span on its own thread.
A thread with no open span (the medallion gold tier's worker threads)
takes the innermost open span of the thread that opened the current op,
which is blocked waiting for it.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

#: TableStore methods per storage call kind.
STORAGE_CALLS = {
    "commit": (
        "append", "overwrite", "upsert", "delete_matched",
        "update_where", "update_matched", "overwrite_where",
    ),
    "read": ("read",),
    "meta": ("exists", "count", "current_version", "versions"),
}
#: Stage functions ``medallion.run_incremental`` calls by module name.
MEDALLION_STAGES = (
    "validate_bronze", "load_bronze", "run_silver", "scd2_dim_customer",
    "scd2_dim_merchant", "build_static_dims", "build_dim_date", "build_fact",
)
#: Stages that run concurrently as the gold dimension tier.
GOLD_TIER = (
    "scd2_dim_customer", "scd2_dim_merchant", "build_static_dims", "build_dim_date",
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_stack: list[tuple[int, str]] | None = None

    def _stack(self) -> list[tuple[int, str]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def innermost(self) -> str | None:
        """Name of the innermost open span on this thread."""
        stack = self._stack()
        return stack[-1][1] if stack else None

    @contextmanager
    def _open(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1][0]
        elif self._op_stack:
            parent = self._op_stack[-1][0]
        else:
            parent = None
        with self._lock:
            sid = next(self._ids)
        stack.append((sid, name))
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, threading.current_thread().name)
                )

    def span(self, name: str):
        return self._open(name) if self.enabled else nullcontext()

    @contextmanager
    def op(self, label: str):
        """Root span of one op; the calling thread becomes the fallback
        parent for spans opened on threads the op starts."""
        if not self.enabled:
            yield
            return
        self._op_stack = self._stack()
        try:
            with self._open(f"op:{label}"):
                yield
        finally:
            self._op_stack = None

    def wrap(self, name: str, fn, outermost_prefix: str | None = None):
        """``fn`` recorded as span ``name``.  With ``outermost_prefix``,
        a call made while a span of that prefix is open on the same
        thread (a method calling a sibling) is not recorded again."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            inner = self.innermost()
            if outermost_prefix and inner and inner.startswith(outermost_prefix):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


@contextmanager
def installed(tracer: Tracer):
    """Wrap TableStore's public methods and the medallion stage
    functions for the duration of the block."""
    from delta_lake_gcp_implementation_spark.pipeline import medallion
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    patches = [
        (TableStore, method, f"storage.{kind}:{method}", "storage.")
        for kind, methods in STORAGE_CALLS.items()
        for method in methods
    ] + [
        (medallion, stage, f"medallion.{stage}", None) for stage in MEDALLION_STAGES
    ]
    originals = []
    try:
        for owner, attr, name, prefix in patches:
            fn = getattr(owner, attr)
            originals.append((owner, attr, fn))
            setattr(owner, attr, tracer.wrap(name, fn, prefix))
        yield tracer
    finally:
        for owner, attr, fn in reversed(originals):
            setattr(owner, attr, fn)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer (the span-name prefix before the first ``.``
    or ``:``) not covered by any child span."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, [])
            if c.end > s.start and c.start < s.end
        ]
        layer = s.name.replace(":", ".").split(".")[0]
        out[layer] += (s.end - s.start) - _union(kids)
    return dict(out)
