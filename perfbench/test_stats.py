"""Tests for the benchmark's own arithmetic.

Run with ``python -m pytest perfbench -q`` (no Spark session needed)."""

from __future__ import annotations

import math
import os
import random

import pytest

from perfbench import stats
from perfbench.trace import JobStats, Span, Tracer, job_profile, self_time


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0)],
)
def test_reportable_percentile_needs_ten_samples_beyond(n, want):
    assert stats.reportable_percentile(n) == want


@pytest.mark.parametrize("n", [40, 57, 100, 150, 200, 333, 1000, 2500])
def test_reported_tail_has_ten_samples_beyond_it(n):
    values = random.Random(n).sample(range(10 * n), n)
    p, v = stats.tail([float(x) for x in values])
    assert p is not None
    assert sum(1 for x in values if x > v) >= stats.MIN_TAIL_SAMPLES


def test_tail_refuses_small_samples():
    assert stats.tail([1.0] * 39) == (None, None)


def test_percentile_interpolates():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([5.0], 95) == 5.0


def test_union_length_merges_overlaps_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7), (8.0, 20.0)]
    assert stats.union_length(iv, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 2.0)
    assert stats.union_length(iv, 2.5, 5.5) == pytest.approx(1.0)
    assert stats.union_length([], 0.0, 1.0) == 0.0


def test_covered_plus_driver_only_equals_wall():
    rng = random.Random(7)
    jobs = []
    for i in range(50):
        a = rng.uniform(0.0, 9.0)
        jobs.append(JobStats(i, a, a + rng.uniform(0.0, 2.0)))
    prof = job_profile(jobs, 1.0, 9.5)
    assert prof["covered_s"] + prof["driver_only_s"] == pytest.approx(8.5)
    assert 0.0 <= prof["driver_only_s"] <= 8.5
    assert prof["jobs"] == 50


def test_job_profile_with_no_jobs_is_all_driver():
    prof = job_profile([], 2.0, 5.0)
    assert prof["driver_only_s"] == pytest.approx(3.0)
    assert prof["covered_s"] == 0.0


def test_distinct_inode_bytes_counts_hardlinks_once(tmp_path):
    a = tmp_path / "v1" / "part-0.parquet"
    a.parent.mkdir()
    a.write_bytes(b"x" * 1000)
    (tmp_path / "v1" / "part-1.parquet").write_bytes(b"y" * 24)
    (tmp_path / "v2").mkdir()
    os.link(a, tmp_path / "v2" / "base-1-part-0.parquet")
    os.link(a, tmp_path / "v2" / "base-2-part-0.parquet")
    assert stats.distinct_inode_bytes(str(tmp_path)) == (1024, 2)


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.geomean([2.5]) == pytest.approx(2.5)
    vals = [0.3, 1.7, 4.2, 0.9]
    assert stats.geomean(vals) == pytest.approx(math.prod(vals) ** (1 / len(vals)))
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_self_time_subtracts_children_once():
    parent = Span(0, "tick", "op", 0.0, 10.0)
    kids = [
        Span(1, "a", "op", 1.0, 4.0, parent=0),
        Span(2, "b", "op", 3.0, 5.0, parent=0),  # overlaps a
        Span(3, "c", "op", 3.5, 4.5, parent=2),  # grandchild: not subtracted again
    ]
    assert self_time(parent, [parent, *kids]) == pytest.approx(6.0)


def test_tracer_parents_calls_on_other_threads():
    import threading

    tr = Tracer(True)
    root = tr.open("op.tick")
    inner = {}

    def worker():
        inner["span"] = tr.open("star_load.load_batch")
        tr.close(inner["span"])

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tr.close(root)
    assert inner["span"].parent == root.sid
    assert root.parent is None
