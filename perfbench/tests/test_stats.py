"""Percentile, spread, CPU-sample and span self-time arithmetic; the traced-batch
window."""

import time
from types import SimpleNamespace

import pytest

import tracing
from harness import CpuSampler, interpolate, iqr_share, percentile
from tracing import best_window, self_times, union_length


def span(i, name, start, end, parent=None, req=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "req": req, "attrs": {}}


def test_percentile_interpolates_and_handles_edges():
    assert percentile([], 50) == 0.0
    assert percentile([7], 90) == 7.0
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([4, 1, 3, 2], 0) == 1.0
    assert percentile([1, 2, 3, 4], 100) == 4.0
    assert percentile(range(1, 11), 90) == pytest.approx(9.1)


def test_iqr_share_matches_statistics_quantiles():
    # statistics.quantiles(n=4) on 1..9 gives 2.5 and 7.5 around a median of 5
    assert iqr_share(range(1, 10)) == pytest.approx(1.0)
    assert iqr_share([10.0] * 5) == 0.0


def test_interpolate_is_linear_between_samples_and_flat_outside():
    samples = [(10.0, 1.0), (12.0, 3.0), (13.0, 3.0)]
    assert interpolate(samples, 11.0) == pytest.approx(2.0)
    assert interpolate(samples, 12.5) == pytest.approx(3.0)
    assert interpolate(samples, 9.0) == 1.0
    assert interpolate(samples, 14.0) == 3.0


def test_cpu_sampler_reads_cpu_between_two_instants():
    ticks = iter(range(1000))
    sampler = CpuSampler(lambda: float(next(ticks)), interval_s=0.01).start()
    time.sleep(0.1)
    sampler.stop()
    (t0, c0), (t1, c1) = sampler.samples[0], sampler.samples[-1]
    assert c1 - c0 == len(sampler.samples) - 1
    assert sampler.between(t0, t1) == pytest.approx(c1 - c0)
    mid = (t0 + t1) / 2
    assert 0 < sampler.between(t0, mid) < c1 - c0


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        span(1, "batch", 0.0, 10.0),
        span(2, "merge", 1.0, 5.0, parent=1),
        span(3, "commit", 4.0, 6.0, parent=1),  # overlaps the merge child
        span(4, "write", 2.0, 3.0, parent=2),
        span(5, "late", 9.0, 12.0, parent=1),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)  # children cover [1,6] and [9,10]
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(3.0)


def test_best_window_picks_largest_overlap():
    windows = {"a": (0.0, 5.0), "b": (4.0, 10.0)}
    assert best_window(3.0, 8.0, windows) == "b"
    assert best_window(1.0, 1.0, windows) == "a"  # zero-length: the containing one
    assert best_window(20.0, 21.0, windows) is None


def test_tracer_traces_whole_batches_from_start_to_stop_time(monkeypatch):
    now = [0.0]
    monkeypatch.setattr(tracing, "time", SimpleNamespace(time=lambda: now[0]))
    tracer = tracing.Tracer()
    batch = tracer._wrapper(lambda t: None, tracing.BATCH_SPAN, req=lambda a, k: a[0])
    tracer.batches_from, tracer.batches_until = 10.0, 20.0
    for t in (5.0, 9.9, 10.0, 15.0, 20.0, 25.0):
        now[0] = t
        batch(t)
    assert [s["req"] for s in tracer.spans] == [10.0, 15.0]
    assert not tracer.enabled
