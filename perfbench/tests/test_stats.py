"""Arithmetic of the benchmark: tail rule, batch-to-sequence mapping,
backlog growth and span self time."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 25) == pytest.approx(1.75)


@pytest.mark.parametrize("n, want", [
    (10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (999, 95.0), (200, 95.0),
    (199, 90.0), (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0), (5, 50.0),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_summarize_reports_tail_with_its_percentile_and_count():
    s = stats.summarize(range(1, 101))
    assert s["n"] == 100 and s["tail_pct"] == 90.0
    assert s["p50"] == 50.5 and s["tail"] == pytest.approx(90.1)


def _progress(batch, ts, rows, trigger_ms):
    return {"batchId": batch, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger_ms, "addBatch": 10}}


def test_map_batches_assigns_contiguous_sequence_ranges():
    progress = [
        _progress(0, "2026-01-08T00:00:00.000Z", 3, 500),
        _progress(1, "2026-01-08T00:00:01.000Z", 0, 5),  # idle trigger
        _progress(2, "2026-01-08T00:00:02.000Z", 2, 250),
    ]
    b = stats.map_batches(progress, 5)
    assert [(x["lo"], x["hi"]) for x in b] == [(0, 3), (3, 5)]
    t0 = stats.progress_time("2026-01-08T00:00:00.000Z")
    assert b[0]["end"] == pytest.approx(t0 + 0.5)
    assert b[1]["end"] == pytest.approx(t0 + 2.25)


def test_map_batches_rejects_missing_or_repeated_events():
    progress = [_progress(0, "2026-01-08T00:00:00.000Z", 3, 500)]
    with pytest.raises(ValueError):
        stats.map_batches(progress, 4)  # one event never committed
    with pytest.raises(ValueError):
        stats.map_batches(progress + progress, 6)  # a batch reported twice


def test_event_latency_is_batch_end_minus_due_time():
    progress = [
        _progress(0, "2026-01-08T00:00:00.000Z", 2, 1000),
        _progress(1, "2026-01-08T00:00:01.000Z", 2, 1000),
    ]
    b = stats.map_batches(progress, 4)
    t0 = stats.progress_time("2026-01-08T00:00:00.000Z")
    due = [t0 - 0.5, t0, t0 + 0.5, t0 + 1.0]
    assert stats.event_latencies(b, due, 0, 4) == pytest.approx([1.5, 1.0, 1.5, 1.0])
    assert stats.event_latencies(b, due, 2, 3) == pytest.approx([1.5])
    with pytest.raises(ValueError):
        stats.event_latencies(b[:1], due, 0, 4)


def test_backlog_at_batch_ends_counts_due_but_uncommitted():
    batches = [{"lo": 0, "hi": 2, "end": 1.0}, {"lo": 2, "hi": 3, "end": 2.0}]
    due = [0.1, 0.2, 0.9, 1.5, 1.9, 2.5]
    assert stats.backlog_at_batch_ends(batches, due) == [(1.0, 1), (2.0, 2)]


def test_backlog_growth_detector():
    flat = [(t, 300 + (t % 2) * 50) for t in range(10)]
    rising = [(t, 3000 * t) for t in range(10)]
    assert not stats.backlog_grows(flat, rate=400, capacity=900)
    assert stats.backlog_grows(rising, rate=4000, capacity=900)
    # too few samples for a slope: compare the rate with the capacity
    assert stats.backlog_grows([(0, 10)], rate=4000, capacity=900)
    assert not stats.backlog_grows([], rate=400, capacity=900)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past the parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},  # grandchild: not span 0's
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0) and st[4] == pytest.approx(1.0)
