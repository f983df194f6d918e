"""Pure arithmetic shared by the workloads: percentiles and the tail
rule, the micro-batch to event-sequence mapping, backlog growth, and
span self time. No Spark imports, so the tests run without a JVM."""

from __future__ import annotations

import math
from datetime import datetime

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10
# A step's backlog grows when its slope exceeds this share of the rate.
BACKLOG_GROWTH_TOL = 0.1


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least TAIL_MIN_BEYOND
    samples above it; the median when even that has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:  # 100 - 99.9 is inexact
            return p
    return 50.0


def summarize(values) -> dict:
    """Median and tail of a sample, with the tail's percentile and n."""
    vals = list(values)
    p = tail_percentile(len(vals))
    return {
        "p50": percentile(vals, 50),
        "tail": percentile(vals, p),
        "tail_pct": p,
        "n": len(vals),
    }


def progress_time(ts: str) -> float:
    """Unix seconds of a StreamingQueryProgress ``timestamp``."""
    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def map_batches(progress: list[dict], n_events: int) -> list[dict]:
    """Map each micro-batch of a single ordered source to the event
    sequence range it committed, from the cumulative ``numInputRows``.

    Returns one dict per batch with input rows: batch id, ``lo``/``hi``
    (half-open sequence range), ``start``/``end`` (unix s; end = trigger
    start + triggerExecution) and the progress duration breakdown.
    Raises ValueError unless every event ``0..n_events-1`` is covered
    exactly once by batches with distinct, increasing ids."""
    out: list[dict] = []
    seq = 0
    last_id = -1
    for p in progress:
        rows = int(p.get("numInputRows") or 0)
        if rows == 0:
            continue
        bid = int(p["batchId"])
        if bid <= last_id:
            raise ValueError(f"batch {bid} reported after batch {last_id}")
        last_id = bid
        start = progress_time(p["timestamp"])
        d = p.get("durationMs") or {}
        out.append({
            "batch": bid,
            "lo": seq,
            "hi": seq + rows,
            "start": start,
            "end": start + d.get("triggerExecution", 0) / 1000.0,
            "duration_ms": dict(d),
            "state": list(p.get("stateOperators") or []),
        })
        seq += rows
    if seq != n_events:
        raise ValueError(f"batches committed {seq} events, expected {n_events}")
    return out


def event_latencies(batches: list[dict], due: list[float], lo: int, hi: int) -> list[float]:
    """Latency (s) of events ``lo..hi-1``: the end of the batch that
    committed each one minus its due time ``due[i]`` (unix s)."""
    out: list[float] = []
    for b in batches:
        for i in range(max(b["lo"], lo), min(b["hi"], hi)):
            out.append(b["end"] - due[i])
    if len(out) != hi - lo:
        raise ValueError(f"{hi - lo - len(out)} events of {lo}..{hi} not in any batch")
    return out


def backlog_at_batch_ends(batches: list[dict], due: list[float]) -> list[tuple[float, int]]:
    """(time, events due but not committed) at each batch end."""
    import bisect

    out = []
    for b in batches:
        n_due = bisect.bisect_right(due, b["end"])
        out.append((b["end"], max(0, n_due - b["hi"])))
    return out


def slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of (x, y) points; 0 for fewer than two."""
    if len(points) < 2:
        return 0.0
    mx = sum(x for x, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


def backlog_grows(samples: list[tuple[float, int]], rate: float, capacity: float) -> bool:
    """Whether the backlog grows at a scheduled ``rate``: the slope of
    the step's (time, backlog) samples at batch ends exceeds
    BACKLOG_GROWTH_TOL x rate. A step too short for three samples
    cannot show a slope; it grows when the rate exceeds ``capacity``,
    the events/s the engine commits while a backlog exists."""
    if len(samples) < 3:
        return rate > capacity
    return slope(samples) > BACKLOG_GROWTH_TOL * rate


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the union of its
    direct children's intervals, clipped to the span."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
