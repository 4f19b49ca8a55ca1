import pytest

from perfbench.results import Recorder
from perfbench.stats import TAIL_BEYOND, spread, tail


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(100))
    value, pct, n = tail(xs[::-1])
    assert (value, pct, n) == (89, 90.0, 100)
    assert sum(x > value for x in xs) == TAIL_BEYOND


def test_tail_smallest_sample_count_with_a_percentile():
    value, pct, n = tail([float(i) for i in range(11)])
    assert value == 0.0
    assert pct == pytest.approx(100 / 11)
    assert n == 11


def test_tail_without_enough_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        tail([])


def test_spread_is_quartile_distance_over_median():
    assert spread([1.0] * 10) == 0.0
    assert spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx((8.25 - 2.75) / 5.5)


def test_recorder_with_only_failures_reports_them_without_metrics():
    rec = Recorder()
    for _ in range(3):
        rec.op(0.0, ok=False)
    out, diag = rec.metrics(wall_s=1.5)
    assert out == {"ops_per_s": 0.0}
    assert (rec.attempted, rec.failed) == (3, 3)
    assert diag["failed_ops_frac"] == 1.0


def test_recorder_counts_but_does_not_sample_while_timing_is_off():
    rec = Recorder()
    rec.timing = False
    rec.op(9.0, ok=True)
    rec.write(9.0, rows=10)
    rec.op(9.0, ok=False)
    rec.timing = True
    rec.op(1.0, ok=True)
    rec.write(2.0, rows=4)
    rec.read(3.0)
    out, _ = rec.metrics(wall_s=2.0)
    assert (rec.attempted, rec.failed) == (3, 1)
    assert out["op_p50_s"] == 1.0 and out["write_p50_s"] == 2.0
    assert out["write_rows_per_s"] == 2.0
    assert out["ops_per_s"] == 0.5
