"""Pure logic of the benchmark harness: no Spark, no I/O.

Kept apart from the workloads so it can be unit-tested in milliseconds
(``python3 -m pytest perfbench -q``).
"""

from __future__ import annotations

import math
import re
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

# Names and units as the benchmark contract restricts them.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct * len(ordered) / 100.0 - 1e-9))
    return ordered[rank - 1]


def tail_percentile(n: int, beyond: int = 10,
                    ladder=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)) -> float | None:
    """Highest percentile of ``ladder`` that leaves at least ``beyond``
    of ``n`` samples strictly above its nearest-rank position; None when
    not even the median qualifies."""
    for pct in ladder:
        rank = max(1, math.ceil(pct * n / 100.0 - 1e-9))
        if n - rank >= beyond:
            return pct
    return None


@dataclass
class FailLedger:
    """``fail_ratio`` accounting: every operation counts once as
    attempted; an exception or an oracle mismatch counts it failed."""

    attempted: int = 0
    failed: int = 0
    messages: list[str] = field(default_factory=list)

    def record(self, ok: bool, message: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if message:
                self.messages.append(message)

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder: name, start, end, parent, operation id.

    Spans nest by call order on one thread; ``self_times`` turns them
    into exclusive time per span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str | None = None):
        return _SpanCtx(self, name, op)

    def _open(self, name: str, op: str | None) -> int:
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()


class _SpanCtx:
    __slots__ = ("tracer", "name", "op", "idx")

    def __init__(self, tracer: Tracer, name: str, op: str | None):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        self.idx = self.tracer._open(self.name, self.op)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


class NullTracer:
    """Tracing off: spans cost one attribute lookup and a no-op."""

    def span(self, name: str, op: str | None = None):
        return nullcontext()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def blocking_path(spans: list[Span], phases=("setup", "window")) -> dict:
    """Self time per span path under the end-to-end phases (set-up and the
    timed window). The phases' own self time is the residual no span
    explains; self times plus residual add up to the phases' wall."""
    st = self_times(spans)
    top = {i for i, s in enumerate(spans) if s.name in phases
           and (s.parent is None or spans[s.parent].name not in phases)}

    def path(i):
        """'setup/warmup.build/segments.build' for a span under a phase."""
        names = []
        while i is not None:
            names.append(spans[i].name)
            if i in top:
                return "/".join(reversed(names))
            i = spans[i].parent
        return None

    by_name: dict[str, float] = {}
    for i in range(len(spans)):
        p = path(i)
        if p is not None and i not in top:
            by_name[p] = by_name.get(p, 0.0) + st[i]
    wall = sum(spans[i].end - spans[i].start for i in top)
    residual = sum(st[i] for i in top)
    return {"wall_s": wall, "residual_s": residual, "self_s": by_name}
