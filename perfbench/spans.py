"""Spans, self times and tail statistics for the benchmark.

Everything here is plain Python with no Spark import, so the
arithmetic is unit-tested on its own (``perfbench/tests``).

A span is one timed interval at a layer boundary. Spans of one op
share the op's id; ``parent`` names the span that caused it. A
span's *self time* is the part of its interval not covered by its
descendants. Where two spans overlap without nesting (a micro-batch
reported by the JVM at millisecond resolution against a Python call
timed in microseconds), each instant is given to the deepest span
active at that instant, the later-starting one on a tie. The self
times of an op's spans therefore always sum to the op span's wall.
"""

from __future__ import annotations

import math
import random
import statistics
from dataclasses import dataclass, field

# a tail percentile is only reported with this many samples beyond it
TAIL_MIN_BEYOND = 10


@dataclass
class Span:
    kind: str            # layer boundary, e.g. "build", "sink", "trigger"
    start: float         # seconds, wall clock
    end: float
    op_id: int
    span_id: int
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def link_parents(spans: list[Span], root_id: int) -> None:
    """Give every span without a parent the smallest span that
    contains it, else the root. Spans that already name a parent keep
    it."""
    by_size = sorted(spans, key=lambda s: s.duration)
    for s in spans:
        if s.parent is not None or s.span_id == root_id:
            continue
        s.parent = root_id
        for c in by_size:
            if (c.span_id != s.span_id and c.duration > s.duration
                    and c.start <= s.start and s.end <= c.end):
                s.parent = c.span_id
                break


def self_times(spans: list[Span], root_id: int) -> dict[int, float]:
    """Self time of every span, clipped to the root span's interval.

    Each elementary interval between span boundaries goes to the
    deepest active span (ties: the later start, then the higher id),
    so the values sum to the root's duration."""
    by_id = {s.span_id: s for s in spans}
    root = by_id[root_id]
    depth: dict[int, int] = {}

    def depth_of(s: Span) -> int:
        if s.span_id not in depth:
            seen, d, cur = set(), 0, s
            while cur.parent is not None and cur.span_id != root_id:
                if cur.span_id in seen or cur.parent not in by_id:
                    break
                seen.add(cur.span_id)
                cur, d = by_id[cur.parent], d + 1
            depth[s.span_id] = d
        return depth[s.span_id]

    clipped = [
        (max(s.start, root.start), min(s.end, root.end), s) for s in spans
    ]
    clipped = [(a, b, s) for a, b, s in clipped if b > a or s is root]
    cuts = sorted({x for a, b, _ in clipped for x in (a, b)})
    out = {s.span_id: 0.0 for s in spans}
    for lo, hi in zip(cuts, cuts[1:]):
        active = [s for a, b, s in clipped if a <= lo and hi <= b]
        if not active:
            continue
        owner = max(active, key=lambda s: (depth_of(s), s.start, s.span_id))
        out[owner.span_id] += hi - lo
    return out


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float], q: float) -> float | None:
    """The ``q`` quantile, or None when fewer than ``TAIL_MIN_BEYOND``
    samples lie beyond it."""
    beyond = len(values) * (1.0 - q)
    if beyond + 1e-9 < TAIL_MIN_BEYOND:
        return None
    return percentile(values, q)


def median(values: list[float]) -> float:
    return statistics.median(values)


def host_scaled(passes: list[list[tuple[str, float, float]]],
                ref_s: float) -> list[list[tuple[str, float]]]:
    """Each pass's ``(op, wall, probe)`` samples as ``(op, scaled wall)``.

    ``probe`` is the wall of the calibration probe around the op. An op
    that took ``k`` probes' time is reported as ``k * ref_s``: its wall
    on a host where the probe takes ``ref_s``."""
    return [[(name, wall / probe * ref_s) for name, wall, probe in p]
            for p in passes]


def op_orders(ops: list[str], seed: int):
    """Endless op orders, one per pass, drawn from ``seed`` alone."""
    rng = random.Random(seed)
    while True:
        order = list(ops)
        rng.shuffle(order)
        yield order
