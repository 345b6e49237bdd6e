"""Pure helpers of the benchmark: spans and self time, Spark metric
string parsing and the geometric mean.

Nothing here imports Spark, so the unit tests in ``perfbench/tests``
run without a session.
"""

from __future__ import annotations

import math
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    """One timed interval. ``parent`` is the index of the enclosing span
    in the owning ``Tracer.spans`` list (None for a root)."""

    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder; spans are written out once at the end.

    Times are ``time.perf_counter()`` seconds. ``wall_offset`` maps a
    wall-clock epoch second onto that clock, for spans rebuilt from
    Spark's streaming progress timestamps."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.wall_offset = time.time() - time.perf_counter()

    def start(self, name: str, parent: int | None = None) -> int:
        self.spans.append(Span(name, time.perf_counter(), None, parent))
        return len(self.spans) - 1

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()

    def add(
        self, name: str, start: float, end: float, parent: int | None, **attrs
    ) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def from_wall(self, epoch_s: float) -> float:
        return epoch_s - self.wall_offset

    def to_records(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": i,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "dur_ms": s.duration * 1e3,
                "self_ms": selfs[i] * 1e3,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for i, s in enumerate(self.spans)
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
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
    """Each span's duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        if s.end is None:
            out.append(0.0)
            continue
        out.append(s.duration - covered(children.get(i, []), s.start, s.end))
    return out


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {values!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_NUM = r"-?[0-9][0-9,]*(?:\.[0-9]+)?"
_VALUE = re.compile(rf"^({_NUM})(?:\s+([A-Za-z]+))?")


def parse_sql_metric(text: str | None) -> float | None:
    """Parse one SQL execution metric as the status store formats it.

    Plain counts read ``"1,174"``; sizes ``"64.1 MiB"``; timings
    ``"36 ms"`` or ``"16.3 s"``. A metric aggregated over tasks reads
    ``"total (min, med, max (stageId: taskId))\\n16.3 s (190 ms, ...)"``
    and its total is the first value of the second line. Sizes are
    returned in bytes, timings in milliseconds, counts as numbers.
    Averages (``"(min, med, max ...):\\n(1, 1, 1 ...)"``) and unparsable
    text give None."""
    if text is None:
        return None
    text = text.strip()
    if not text:
        return None
    if text.startswith("total ("):
        _, _, text = text.partition("\n")
        text = text.strip()
    m = _VALUE.match(text)
    if m is None:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_MS:
        return num * _TIME_MS[unit]
    return None
