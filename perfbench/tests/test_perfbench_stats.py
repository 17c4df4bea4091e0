import pytest

from perfbench.stats import failed_frac, latency_summary, percentile, rate


def test_nearest_rank_percentile():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 90) == 5.0
    assert percentile(values, 20) == 1.0
    assert percentile(values, 100) == 5.0
    assert percentile([7.0], 90) == 7.0


def test_percentile_lands_on_one_kind_of_a_fixed_mix():
    # Eight request kinds, the last one slowest: over any whole number of
    # cycles p90 is the fastest of the slow kind, never a blend.
    for cycles in range(1, 6):
        lat = [x for c in range(cycles) for x in [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 2 + c]]
        assert percentile(lat, 90) == 2


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_latency_summary_reports_its_sample_counts():
    lat = [float(i) for i in range(1, 101)]
    s = latency_summary(lat)
    assert s == {"p50_s": 50.0, "p90_s": 90.0, "samples": 100, "samples_beyond_p90": 10}


def test_failed_frac():
    assert failed_frac(0, 10) == 0.0
    assert failed_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(5, 4)


def test_rate():
    assert rate(300, 1.5) == 200.0
    with pytest.raises(ValueError):
        rate(1, 0.0)
