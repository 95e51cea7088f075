import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, q",
    [
        (1000, 0.90),
        (100, 0.90),
        (99, 0.89),
        (50, 0.80),
        (20, 0.50),
        (19, None),
        (5, None),
    ],
)
def test_supported_percentile_keeps_ten_samples_beyond(n, q):
    assert stats.supported_percentile(n) == q
    if q is not None:
        beyond = n - stats.percentile(range(1, n + 1), q)
        assert beyond >= stats.TAIL_SAMPLES


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 0.90) == 90
    assert stats.percentile(xs, 0.50) == 50
    assert stats.percentile([3.0, 1.0, 2.0], 0.5) == 2.0

