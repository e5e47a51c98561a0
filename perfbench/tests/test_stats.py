import numpy as np
import pytest

from stats import MIN_BEYOND, median, percentile, percentile_with_support


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy(q):
    xs = [float(x) for x in np.random.default_rng(3).exponential(100.0, size=257)]
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_median_of_even_count_interpolates():
    assert median([1.0, 3.0, 2.0, 4.0]) == 2.5


def test_support_counts_samples_and_groups():
    # 100 samples, one per trigger: exactly ten triggers lie beyond p90.
    xs = [float(i) for i in range(100)]
    s = percentile_with_support(xs, list(range(100)), 90)
    assert s["n"] == 100 and s["groups"] == 100
    assert s["beyond"] == 10 and s["groups_beyond"] == MIN_BEYOND
    assert s["supported"]


def test_ten_beyond_rule_is_about_triggers_not_events():
    # 20 triggers of 50 events each: p90 has 100 events beyond it but
    # only 2 triggers, so it is not supported.
    xs, groups = [], []
    for trig in range(20):
        xs += [1000.0 + trig] * 50
        groups += [trig] * 50
    s = percentile_with_support(xs, groups, 90)
    assert s["beyond"] == 100
    assert s["groups_beyond"] == 2
    assert not s["supported"]
    assert percentile_with_support(xs, groups, 50)["groups_beyond"] == 10


def test_support_rejects_misaligned_groups():
    with pytest.raises(ValueError):
        percentile_with_support([1.0, 2.0], [0], 50)
