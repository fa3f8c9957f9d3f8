"""Pure-Python measurement helpers for the CDC benchmark: the percentile
rule, open-loop lag accounting and span self-time arithmetic.

Nothing here imports Spark, so the smoke tests exercise these rules in
milliseconds and the same code computes every reported number.
"""

from __future__ import annotations

import math
import threading
import time

#: Percentiles a "high" figure may take. A fixed ladder keeps the reported
#: rank in the same place from run to run, which a percentile derived from
#: the sample count would not.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9, 99.99)
#: A percentile is reported only with at least this many samples above it.
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9 % of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def high_percentile(n: int) -> float | None:
    """The highest ladder percentile that leaves at least ``MIN_BEYOND``
    of ``n`` samples above its rank; ``None`` when even the median does
    not (fewer than 20 samples)."""
    best = None
    for p in PERCENTILE_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it. No interpolation, so a
    percentile never blends two batches' values."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile the sample supports, with the
    sample count and which percentile "high" is."""
    n = len(values)
    hp = high_percentile(n)
    if hp is None:
        raise ValueError(
            f"{n} samples: no percentile has {MIN_BEYOND} samples beyond it"
        )
    return {
        "p50": percentile(values, 50.0),
        "high": percentile(values, hp),
        "high_pct": hp,
        "n": n,
    }


def open_loop_accounting(
    due: list[float],
    published: list[float],
    starts: list[float],
    commits: list[float],
    seg_events: list[int],
) -> dict:
    """Lag and lateness of an open-loop run where segment ``i`` (due at
    ``due[i]``, actually published at ``published[i]``) is applied by
    batch ``i``, which started at ``starts[i]`` and committed at
    ``commits[i]``.

    - Every event of a segment shares one creation time: the segment's
      *scheduled* publish time, so a late generator or a stalled engine
      both show as lag, never as a lighter load.
    - ``gen_late_s`` is the generator's worst lateness against schedule.
    - ``backlog_max`` is the most segments published and not yet
      committed at any batch start, the current one included; it stays
      at 1 or 2 while the engine keeps up and grows with run length when
      it saturates.
    """
    n = len(due)
    if not (len(published) == len(starts) == len(commits) == len(seg_events) == n):
        raise ValueError("one due/published/start/commit/size per segment")
    lags: list[float] = []
    for i in range(n):
        lags.extend([commits[i] - due[i]] * seg_events[i])
    backlog = [
        sum(1 for t in published if t <= starts[k]) - k for k in range(n)
    ]
    return {
        "lags": lags,
        "gen_late_s": max((p - d for p, d in zip(published, due)), default=0.0),
        "backlog_max": max(backlog, default=0),
    }


def backlog_lags(t0: float, commits: list[float], seg_events: list[int]) -> list[float]:
    """Per-event lag of a backlog drained from ``t0``: every event already
    exists when the drain starts, so its lag is its batch's commit time
    minus ``t0``."""
    lags: list[float] = []
    for c, n in zip(commits, seg_events):
        lags.extend([c - t0] * n)
    return lags


# --------------------------------------------------------------- tracing


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


class Tracer:
    """In-memory spans recorded from wrappers around public calls.

    A span is ``{id, name, start, end, parent, batch}``. The parent is the
    innermost open span on the calling thread, so a call made inside
    another wrapped call nests under it; ``batch`` is the microbatch id
    of the enclosing ``apply_batch``, if any. Spans are only appended
    while the run is going and written out once at the end.
    """

    def __init__(self, clock=time.monotonic):
        self.clock = clock
        self.spans: list[dict] = []
        self._originals: dict = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, batch: int | None = None, **kwargs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span = {
                "id": len(self.spans), "name": name, "start": self.clock(),
                "end": None, "parent": parent["id"] if parent else None,
                "batch": batch if batch is not None else (parent or {}).get("batch"),
            }
            self.spans.append(span)
        stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            span["end"] = self.clock()

    def wrap(self, obj, method: str, name: str) -> None:
        """Shadow ``obj.method`` with a traced instance attribute. Callers
        that look the method up on the instance (``self.method(...)``)
        go through the wrapper; the original stays reachable through the
        class."""
        fn = getattr(obj, method)
        self._originals[(id(obj), method)] = fn

        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        setattr(obj, method, traced)

    def original(self, obj, method: str):
        """``obj.method`` as it was before :meth:`wrap`."""
        return self._originals.get((id(obj), method), getattr(obj, method))

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(s["start"], s["end"]) for s in self.spans
                if s["parent"] == span["id"] and s["end"] is not None]
        return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])

    def named(self, name: str, roots_only: bool = False) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None
                and (not roots_only or s["parent"] is None)]

    def self_times_by_name(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += self.self_time(s)
        return out
