"""Unit tests for the bench harness's steal-proof normalization
(VERDICT r7 #2) — pure math, no Spark session."""

from __future__ import annotations

import pytest

from bench import normalize_ratios


def test_uniform_steal_cancels_exactly():
    """A 3.19× host-steal multiplier (the §9k measured case) applied
    uniformly on top of flat ratios normalizes back to 1.0 everywhere,
    and the factor itself is reported."""
    steal = 3.19
    ratios = {f"q{i}": round(1.0 * steal, 2) for i in range(9)}
    factor, norm = normalize_ratios(ratios)
    assert factor == pytest.approx(steal, abs=0.01)
    assert all(v == pytest.approx(1.0, abs=0.01) for v in norm.values())


def test_genuine_regression_survives_normalization():
    """One query 2× slow on an otherwise-uniformly-1.2× run: the
    normalized column isolates it while the other queries read flat."""
    ratios = {f"q{i}": 1.2 for i in range(10)}
    ratios["q_bad"] = 2.4
    factor, norm = normalize_ratios(ratios)
    assert factor == pytest.approx(1.2)
    assert norm["q_bad"] == pytest.approx(2.0)
    assert all(
        norm[f"q{i}"] == pytest.approx(1.0) for i in range(10)
    )


def test_median_not_mean_resists_outlier_pull():
    """The normalizer must be the MEDIAN: a single huge outlier must not
    drag the host factor (a mean would read every other query as
    'improved' and the outlier as smaller than it is)."""
    ratios = {f"q{i}": 1.0 for i in range(10)}
    ratios["q_out"] = 50.0
    factor, norm = normalize_ratios(ratios)
    assert factor == pytest.approx(1.0)
    assert norm["q_out"] == pytest.approx(50.0)


def test_none_and_empty_inputs():
    """Failed queries (None ratios) are excluded; all-failed or empty
    runs produce (None, {}) rather than dividing by garbage."""
    assert normalize_ratios({}) == (None, {})
    assert normalize_ratios({"a": None, "b": None}) == (None, {})
    factor, norm = normalize_ratios({"a": None, "b": 2.0, "c": 2.0})
    assert factor == pytest.approx(2.0)
    assert set(norm) == {"b", "c"}


def test_even_count_median_interpolates():
    factor, norm = normalize_ratios({"a": 1.0, "b": 3.0})
    assert factor == pytest.approx(2.0)
    assert norm == {"a": 0.5, "b": 1.5}


def test_anchor_set_shields_untouched_queries_from_improvement_pull():
    """VERDICT r11 #8: a round that genuinely improves HALF the queries
    pulls the all-query median down, reading the untouched half as
    relatively regressed. With the untouched queries passed as anchors,
    the steal estimate comes from them alone: a simulated 2×-improved
    half must not shift the untouched queries' normalized ratios."""
    untouched = {f"u{i}": 1.0 for i in range(8)}
    improved = {f"t{i}": 0.5 for i in range(8)}  # 2× faster this round
    ratios = {**untouched, **improved}
    factor, norm = normalize_ratios(ratios, anchors=list(untouched))
    assert factor == pytest.approx(1.0)
    assert all(norm[q] == pytest.approx(1.0) for q in untouched)
    assert all(norm[q] == pytest.approx(0.5) for q in improved)
    # default (no anchors) keeps the historical all-query median
    factor_all, norm_all = normalize_ratios(ratios)
    assert factor_all == pytest.approx(0.75)


def test_anchor_set_with_no_usable_anchors_falls_back_to_all():
    """Anchors that are all failed/absent must not zero the estimate —
    fall back to the all-query median rather than returning garbage."""
    ratios = {"a": 2.0, "b": 2.0, "c": None}
    factor, norm = normalize_ratios(ratios, anchors=["c", "nope"])
    assert factor == pytest.approx(2.0)
    assert set(norm) == {"a", "b"}


def test_anchor_fallback_is_flagged():
    """The fallback to the all-query median is visible to the caller:
    ``anchored`` is False without anchors and when no anchor had a
    ratio, True when the median came from the anchors."""
    ratios = {"a": 2.0, "b": 2.0, "c": None}
    assert normalize_ratios(ratios).anchored is False
    assert normalize_ratios(ratios, anchors=["c", "nope"]).anchored is False
    assert normalize_ratios(ratios, anchors=["a"]).anchored is True
    assert normalize_ratios({}, anchors=["a"]) == (None, {})
