"""Pure helpers of the benchmark: percentiles, lag attribution, span tracing.

Nothing here imports Spark or the engine, so the helpers are unit-tested on
their own (``perfbench/test_benchlib.py``).
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from contextlib import contextmanager


class InsufficientSamples(ValueError):
    """A percentile was asked of fewer samples than it needs."""


def percentile(values, pct: float, min_beyond: int = 10) -> float:
    """Nearest-rank percentile that refuses thin tails.

    The value is the ``k``-th smallest sample with ``k = ceil(pct/100 * n)``.
    At least ``min_beyond`` samples must lie beyond that rank (``n - k``);
    otherwise the percentile says nothing about the tail it names and
    :class:`InsufficientSamples` is raised.  p50 needs 20 samples, p90 100
    and p99 1000 under the default rule.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise InsufficientSamples(f"p{pct:g} of no samples")
    k = max(1, math.ceil(pct / 100.0 * n))
    if n - k < min_beyond:
        raise InsufficientSamples(
            f"p{pct:g} of {n} samples has {n - k} beyond it, "
            f"needs {min_beyond}")
    return float(xs[k - 1])


def sleep_until(t_due: float, spin_s: float = 0.0005) -> None:
    """Return once ``time.perf_counter()`` reaches ``t_due``: sleep until
    ``spin_s`` before it, then spin.  A plain sleep wakes up tens to hundreds
    of microseconds late, depending on how idle the host is, which would
    swamp a sub-millisecond latency timed from the due time."""
    left = t_due - time.perf_counter()
    if left > spin_s:
        time.sleep(left - spin_s)
    while time.perf_counter() < t_due:
        pass


def median_or_zero(values) -> float:
    """Median of per-layer samples; 0.0 when the layer saw no work."""
    return float(statistics.median(values)) if values else 0.0


# -- live-tail lag attribution ------------------------------------------------

def covered_files(log: list, end_offset: dict) -> int:
    """Number of the table's appended files that a tail end offset
    ``{"snap", "pos"}`` covers.  ``log`` is the table's append log in commit
    order as ``[(snapshot_id, n_added_files), ...]``; ``snap == 0`` means
    before the first snapshot."""
    snap, pos = end_offset["snap"], end_offset["pos"]
    if snap == 0:
        return 0
    before = 0
    for sid, n in log:
        if sid == snap:
            return before + pos
        before += n
    raise ValueError(f"end offset {end_offset} names no snapshot in the log")


def attribute_lag(log: list, due: dict, batches: list) -> dict:
    """Per producer snapshot, the time its rows waited to reach the sink.

    ``log``: the append log ``[(snapshot_id, n_added_files), ...]`` in commit
    order, including snapshots committed before measuring started.
    ``due``: ``{snapshot_id: t}`` for the measured snapshots, ``t`` being the
    time the producer was due to commit it.
    ``batches``: ``[(end_offset, t_commit), ...]`` of committed micro-batches
    in batch order, ``t_commit`` being when the sink committed the batch.

    A snapshot is covered by the first batch whose end offset reaches past
    its last file.  Returns ``{snapshot_id: (t_commit - t_due) or None}``;
    ``None`` marks a snapshot no batch covered.
    """
    ends = {}
    total = 0
    for sid, n in log:
        total += n
        ends[sid] = total
    reach = [(covered_files(log, off), t) for off, t in batches]
    out = {}
    for sid, t_due in due.items():
        need = ends[sid]
        hit = next((t for c, t in reach if c >= need), None)
        out[sid] = None if hit is None else hit - t_due
    return out


def backlog_max(intervals: list) -> int:
    """Largest number of producer commits visible but not yet delivered at
    once.  ``intervals``: ``[(t_committed, t_delivered or None), ...]``;
    ``None`` means never delivered.  Sampled at every commit instant."""
    worst = 0
    for t, _ in intervals:
        open_now = sum(
            1 for c, d in intervals if c <= t and (d is None or d > t))
        worst = max(worst, open_now)
    return worst


# -- spans --------------------------------------------------------------------

def self_times(spans: list) -> dict:
    """``{span_id: self seconds}``: a span's duration minus the part of its
    interval that its child spans cover (overlapping children count once)."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        cuts = sorted(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in cuts:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans: list) -> dict:
    """Total self seconds and span count per span name."""
    st = self_times(spans)
    out: dict = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"self_s": 0.0, "count": 0})
        agg["self_s"] += st[s["id"]]
        agg["count"] += 1
    return out


class Tracer:
    """In-memory span recorder, written out once when the run ends.

    A span has a name, start and end (``time.perf_counter`` seconds), the id
    of the span that caused it and a request id (micro-batch id or lookup
    index).  A disabled tracer records nothing, so the untraced run pays
    only an attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._lock = threading.Lock()
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            sid = self._next
            self._next += 1
        return sid

    def record(self, name: str, start: float, end: float,
               parent: int | None = None, req=None,
               sid: int | None = None) -> int | None:
        if not self.enabled:
            return None
        if sid is None:
            sid = self._new_id()
        with self._lock:
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, "req": req})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, req=None):
        """Times the block and yields the span id (``None`` when disabled)
        for children to name as their parent."""
        if not self.enabled:
            yield None
            return
        sid = self._new_id()
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            self.record(name, t0, time.perf_counter(), parent, req, sid=sid)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
