from __future__ import annotations

import pytest

from stats import MIN_BEYOND, tail_percentile


def test_tail_percentile_dropped_with_too_few_samples_beyond():
    # 50 samples: 5 lie beyond the nearest-rank p90 -> dropped
    samples = [float(i) for i in range(1, 51)]
    assert tail_percentile(samples, 90) is None


def test_tail_percentile_reported_with_enough_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    assert tail_percentile(samples, 90) == 90.0
    assert sum(s > 90.0 for s in samples) == MIN_BEYOND


def test_tail_percentile_boundary_and_ties():
    # 99 samples: rank ceil(0.9*99)=90 -> value 90, only 9 beyond -> dropped
    assert tail_percentile([float(i) for i in range(1, 100)], 90) is None
    # ties at the percentile do not count as beyond it
    assert tail_percentile([1.0] * 95 + [2.0] * 5, 90) is None
    assert tail_percentile([], 90) is None


@pytest.mark.parametrize("q", [50, 75, 90])
def test_tail_percentile_is_order_free(q):
    samples = [3.0, 1.0, 2.0] * 40
    assert tail_percentile(samples, q) == tail_percentile(sorted(samples), q)

