"""Percentile rule, per-kind summary and self-time arithmetic."""

import numpy as np
import pytest

import stats


def test_quantile_matches_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    for q in (0.0, 0.5, 0.9, 1.0):
        assert stats.quantile(xs, q) == pytest.approx(np.quantile(xs, q))


def test_summary_reports_sample_count():
    s = stats.summarize([float(i) for i in range(1, 13)])
    assert s["n"] == 12 and s["p50"] == 6.5
    assert s["beyond_p90"] == 1 and not s["p90_supported"]
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["beyond_p90"] == 10 and s["p90_supported"]


def test_kind_summary_uses_each_kinds_median():
    # a burst on one sample of "a" moves neither its median nor the result
    samples = [("a", 1.0), ("a", 1.2), ("a", 9.0), ("b", 2.0), ("b", 2.2),
               ("b", 2.1), ("c", 4.0), ("c", 4.0), ("c", 4.0)]
    s = stats.summarize_kinds(samples)
    assert s["kind_median"] == {"a": 1.2, "b": 2.1, "c": 4.0}
    assert s["n"] == 9 and s["kinds"] == 3 and s["min_per_kind"] == 3
    assert s["p50"] == 2.1
    assert s["p90"] == pytest.approx(2.1 + 0.8 * (4.0 - 2.1))
    assert s["beyond_p90"] == 0 and not s["p90_supported"]
    # closed-loop rate: 9 operations at their kinds' medians
    assert s["per_s"] == pytest.approx(9 / (3 * (1.2 + 2.1 + 4.0)))


def test_kind_summary_weighs_rates_by_count():
    s = stats.summarize_kinds([("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 3.0)])
    assert s["p50"] == 2.0 and s["min_per_kind"] == 1
    assert s["per_s"] == pytest.approx(4 / 6.0)


def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 5.0, 6.0, 1),
             _span(4, 1.5, 2.0, 2)]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(7.0)
    assert st[2] == pytest.approx(1.5)
    assert st[3] == pytest.approx(1.0) and st[4] == pytest.approx(0.5)


def test_self_time_overlapping_and_clipped_children():
    # children on other threads may overlap each other or outlive the parent
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 6.0, 1), _span(3, 4.0, 8.0, 1),
             _span(4, 9.0, 12.0, 1)]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 6.0 - 1.0)
    assert sum(st.values()) == pytest.approx(3.0 + 4.0 + 4.0 + 3.0)
