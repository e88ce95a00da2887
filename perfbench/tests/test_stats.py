import pytest

from perfbench.stats import (MIN_BEYOND, class_geomean, median, nearest_rank,
                             summarize, tail_percentile)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_class_geomean_weighs_classes_alike():
    # medians 2 and 8: geometric mean 4, whatever the sample counts
    assert class_geomean({"a": [1, 2, 3], "b": [8]}) == pytest.approx(4.0)
    assert class_geomean({"a": [5.0]}) == pytest.approx(5.0)


def test_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert nearest_rank(vals, 50) == 50
    assert nearest_rank(vals, 95) == 95
    assert nearest_rank(vals, 100) == 100
    assert nearest_rank([7], 99) == 7
    with pytest.raises(ValueError):
        nearest_rank(vals, 0)


@pytest.mark.parametrize("n,want", [
    (200, 95), (100, 90), (1000, 99), (50, 80), (21, 52),
    (20, None), (11, None), (1, None)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


@pytest.mark.parametrize("n", range(1, 400))
def test_tail_rule_holds_and_is_highest(n):
    import math
    pct = tail_percentile(n)
    if pct is None:
        # not even the first percentile above the median qualifies
        assert n - math.ceil(0.51 * n) < MIN_BEYOND
        return
    assert 50 < pct <= 99
    assert n - math.ceil(pct / 100 * n) >= MIN_BEYOND
    if pct < 99:
        assert n - math.ceil((pct + 1) / 100 * n) < MIN_BEYOND


def test_summarize_scales_and_reports_tail():
    s = summarize([i / 1000 for i in range(1, 201)], unit_scale=1e3)
    assert s["n"] == 200 and s["p50"] == 100.5
    assert s["tail_pct"] == 95 and s["tail"] == pytest.approx(190.0)
    assert summarize([1.0, 2.0])["tail"] is None
