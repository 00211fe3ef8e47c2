import pytest

from perfbench.stats import percentile, summary, tail_allowed


def test_tail_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)
    assert percentile([float(i) for i in range(100)], 90) == pytest.approx(89.1)


def test_p50_needs_no_tail():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_summary_omits_unsupported_p90():
    assert "p90" not in summary([1.0] * 99)
    assert "p90" in summary([1.0] * 100)
    assert not tail_allowed(50, 90)
    assert tail_allowed(1000, 99)
