import statistics

import pytest

from stats import OpLog, percentile, supports


def test_percentile_matches_statistics_inclusive():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    qs = statistics.quantiles(xs, n=4, method="inclusive")
    assert [percentile(xs, q) for q in (0.25, 0.5, 0.75)] == pytest.approx(qs)
    assert percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_p90_needs_ten_samples_beyond():
    assert not supports(99, 0.9) and supports(100, 0.9)
    assert supports(20, 0.5) and not supports(19, 0.5)


def test_failures_count_errors_and_wrong_outputs():
    log = OpLog()
    for _ in range(4):
        log.record("q1", True)
    log.record("q3", True)
    log.record("q3", False)
    assert (log.attempted, log.failed) == (6, 1)
    log.mark_wrong("q1")  # every attempt of a wrong query is a failure
    assert (log.attempted, log.failed) == (6, 5)
    assert log.failed_ratio == pytest.approx(5 / 6)
    log.mark_wrong("never_timed")  # a check failure still counts once
    assert (log.attempted, log.failed) == (7, 6)
