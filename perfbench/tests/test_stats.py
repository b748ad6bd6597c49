"""Timing statistics and the open-loop schedule."""

import statistics

import pytest

from perfbench import common


def test_percentile_interpolates_and_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert common.median(xs) == 3.0
    assert common.percentile(xs, 0) == 1.0
    assert common.percentile(xs, 100) == 5.0
    assert common.percentile(xs, 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    # 200 samples leave exactly 10 beyond p95; 199 leave only 9
    assert common.beyond(200, 95) == 10
    assert common.tail_supported(200, 95)
    assert not common.tail_supported(199, 95)
    # p90 needs 100, the median 20
    assert common.tail_supported(100, 90) and not common.tail_supported(99, 90)
    assert common.tail_supported(20, 50) and not common.tail_supported(19, 50)


def test_highest_tail_picks_the_highest_supported():
    assert common.highest_tail(1000) == 99
    assert common.highest_tail(250) == 95
    assert common.highest_tail(120) == 90
    assert common.highest_tail(45) == 75
    assert common.highest_tail(25) == 50
    assert common.highest_tail(12) is None


def test_geomean():
    assert common.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert common.geomean([3.0]) == pytest.approx(3.0)


def rounds_run(seconds, round_s):
    clock = FakeClock(0.0)
    window = common.Window(seconds, clock.now)
    n = 0
    while window.another_round():
        n += 1
        clock.t += round_s
    return n, clock.t


def test_window_runs_whole_rounds_near_the_target():
    assert rounds_run(10, 8) == (1, 8)  # a second round would end at 16
    assert rounds_run(10, 4) == (3, 12)  # the third ends half a round late
    assert rounds_run(10, 30) == (1, 30)  # always at least one round
    assert rounds_run(0, 1) == (1, 1)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    med, lo, hi, spread = common.quartile_spread(xs)
    assert (med, lo, hi) == (q2, q1, q3)
    assert spread == pytest.approx((q3 - q1) / q2)


class FakeClock:
    def __init__(self, t):
        self.t = t
        self.slept = []

    def now(self):
        return self.t

    def sleep(self, dt):
        self.slept.append(dt)
        self.t += dt


def test_open_loop_waits_until_due():
    clock = FakeClock(100.0)
    sched = common.OpenLoop(100.0, 2.0)
    assert sched.due(3) == 106.0
    sched.wait(0, clock.now, clock.sleep)
    assert clock.slept == []  # op 0 is due at once
    sched.wait(1, clock.now, clock.sleep)
    assert clock.slept == [2.0] and clock.t == 102.0


def test_open_loop_latency_counts_from_due_time_including_lateness():
    clock = FakeClock(100.0)
    sched = common.OpenLoop(100.0, 2.0)
    # a stall: op 1 (due 102) is only sent at 105
    clock.t = 105.0
    sched.wait(1, clock.now, clock.sleep)
    assert clock.slept == []  # late: no sleep
    sched.mark_sent(1, clock.t)
    assert sched.lateness(1) == 3.0
    # done 0.5 s after sending: latency from the due time is 3.5 s
    assert sched.latency(1, 105.5) == 3.5
    # an op sent early never reports negative lateness
    sched.mark_sent(2, 103.9)
    assert sched.lateness(2) == 0.0


class _FakeSpark:
    class sparkContext:  # noqa: N801 - mirrors the attribute name
        defaultParallelism = 4


def test_host_factor_is_median_over_reference_without_cold_samples():
    probe = common.HostProbe(_FakeSpark())
    ref = common.HostProbe.REF_S
    # the cold samples, however slow, are dropped
    probe.times = [9.0] * probe.COLD + [ref * 0.5, ref * 2, ref * 2, ref * 8, ref * 3]
    assert probe.factor() == pytest.approx(2.0)


def test_timed_scales_times_down_and_rates_up_keeping_raw():
    res = common.Result()
    res.timed({"work_s": (3.0, "s"), "rows_per_s": (100.0, "rows/s")}, 1.5,
              rates=("rows_per_s",))
    assert res.end_to_end["work_s"] == (pytest.approx(2.0), "s")
    assert res.end_to_end["rows_per_s"] == (pytest.approx(150.0), "rows/s")
    assert res.detail["raw.work_s"] == (3.0, "s")


def test_provenance_mismatch_ignores_seed_and_rev():
    a = {k: 1 for k in common.COMPARABLE}
    b = dict(a, seed=7, git_rev="abc")
    assert common.provenance_mismatch(a, b) == []
    c = dict(a, java="21")
    assert common.provenance_mismatch(a, c) == ["java"]
