"""Query-guard ports: GraduatedQueryGuardTest.scala + the basic guards.

The graduated fixtures mirror the reference test's reference.conf tiers
(size 1 -> 60 days; size 10 -> 3 days + 50% sampling; unbounded -> 1 day
+ 10% sampling by 'name') and its valid/invalid query corpus
(GraduatedQueryGuardTest.scala:27-77).  The reference corpus expresses
durations through ECQL DURING, which excludes both endpoints — its
"P60D" filters extract to 60 days minus 2 seconds — so these ports work
at the extracted-interval level: valid = limit - 2 s, invalid =
limit + 1 s.
"""

from __future__ import annotations

import datetime as dt

import pytest

from geomesa_spark.plans.guards import (GraduatedQueryGuard, QueryGuardError,
                                        SizeAndLimits, apply_sampling,
                                        build_limits, check_guards)

UTC = dt.timezone.utc
T0 = dt.datetime(2020, 1, 1, tzinfo=UTC)
WORLD = (-180.0, -90.0, 180.0, 90.0)


def _tiers():
    return [
        SizeAndLimits(1, dt.timedelta(days=60)),
        SizeAndLimits(10, dt.timedelta(days=3), sampling_percent=0.5),
        SizeAndLimits(None, dt.timedelta(days=1), sampling_percent=0.1,
                      sampling_attribute="name"),
    ]


def _guard():
    return GraduatedQueryGuard(_tiers(), columns=["name", "age", "dtg", "geom"])


def _iv(delta):
    return [(T0, T0 + delta)]


class TestGraduatedGuardCorpus:
    """The valid/invalid query fixtures, at extracted-interval level."""

    def test_valid_queries(self):
        g = _guard()
        s = dt.timedelta(seconds=2)
        # bbox(0,0,.2,.4) area .08 -> 60d tier; Jan 1 .. Feb 1 = 31 days
        g.check([(0, 0, .2, .4)], _iv(dt.timedelta(days=31)))
        # the three corner cases, each 2 s under its tier's limit
        g.check([(0, 0, 1, 1)], _iv(dt.timedelta(days=60) - s))
        g.check([(0, 0, 2, 5)], _iv(dt.timedelta(days=3) - s))
        g.check([WORLD], _iv(dt.timedelta(days=1) - s))
        # bbox(0,0,2,4) area 8 -> 3d tier; one day
        g.check([(0, 0, 2, 4)], _iv(dt.timedelta(days=1)))
        # bbox(-10,-10,10,10) area 400 -> unbounded tier; 23 hours
        g.check([(-10, -10, 10, 10)], _iv(dt.timedelta(hours=23)))
        # OR of two sub-hour windows: durations SUM (guard/package.scala:25)
        g.check([(-10, -10, 10, 10)],
                [(T0, T0 + dt.timedelta(minutes=59, seconds=59)),
                 (T0 + dt.timedelta(hours=12),
                  T0 + dt.timedelta(hours=12, minutes=59, seconds=59))])

    def test_invalid_queries(self):
        g = _guard()
        s = dt.timedelta(seconds=1)
        # INCLUDE / bare bbox: no temporal filter at all
        for bboxes in ([WORLD], [(-10, -10, 10, 10)]):
            with pytest.raises(QueryGuardError, match="temporal filter"):
                g.check(bboxes, [])
        # corner cases 1 s over each tier's limit
        with pytest.raises(QueryGuardError, match="60 days"):
            g.check([(0, 0, 1, 1)], _iv(dt.timedelta(days=60) + s))
        with pytest.raises(QueryGuardError, match="3 days"):
            g.check([(0, 0, 2, 5)], _iv(dt.timedelta(days=3) + s))
        with pytest.raises(QueryGuardError, match="1 day"):
            g.check([WORLD], _iv(dt.timedelta(days=1) + s))
        # small bbox but 3 months: over even the 60d tier
        with pytest.raises(QueryGuardError):
            g.check([(0, 0, .2, .4)], _iv(dt.timedelta(days=92)))
        # area-8 box over its 3d budget
        with pytest.raises(QueryGuardError):
            g.check([(0, 0, 2, 4)], _iv(dt.timedelta(days=4)))
        with pytest.raises(QueryGuardError):
            g.check([(-10, -10, 10, 10)], _iv(dt.timedelta(days=2)))
        # 'dtg after X': unbounded upper side is never valid
        with pytest.raises(QueryGuardError):
            g.check([(-10, -10, 10, 10)], [(T0, None)])

    def test_sampling_by_tier(self):
        g = _guard()
        assert g.sampling([(0, 0, .2, .4)]) is None
        assert g.sampling([(0, 0, 2, 4)]) == (0.5, None)
        assert g.sampling([(-10, -10, 10, 10)]) == (0.1, "name")


class TestLimitValidation:
    """evaluateLimits rules (GraduatedQueryGuard.scala:123-177)."""

    def test_repeated_size(self):
        with pytest.raises(ValueError, match="repeated size"):
            build_limits([SizeAndLimits(1, dt.timedelta(days=2)),
                          SizeAndLimits(1, dt.timedelta(days=1)),
                          SizeAndLimits(None, dt.timedelta(hours=1))])

    def test_durations_must_decrease(self):
        with pytest.raises(ValueError, match="durations out of order"):
            build_limits([SizeAndLimits(1, dt.timedelta(days=1)),
                          SizeAndLimits(None, dt.timedelta(days=2))])

    def test_duration_cannot_disappear(self):
        with pytest.raises(ValueError, match="missing duration"):
            build_limits([SizeAndLimits(1, dt.timedelta(days=1)),
                          SizeAndLimits(None)])

    def test_percentages_must_not_increase(self):
        with pytest.raises(ValueError, match="percentages"):
            build_limits([
                SizeAndLimits(1, dt.timedelta(days=2), sampling_percent=0.1),
                SizeAndLimits(None, dt.timedelta(days=1),
                              sampling_percent=0.5)])

    def test_percent_range(self):
        with pytest.raises(ValueError, match="range"):
            SizeAndLimits(1, None, sampling_percent=1.5)

    def test_last_tier_must_be_unbounded(self):
        with pytest.raises(ValueError, match="unbounded"):
            build_limits([SizeAndLimits(1, dt.timedelta(days=1))])

    def test_empty(self):
        with pytest.raises(ValueError, match="empty"):
            build_limits([])

    def test_unknown_sample_attribute(self):
        with pytest.raises(ValueError, match="attribute"):
            GraduatedQueryGuard(
                [SizeAndLimits(1, dt.timedelta(days=2)),
                 SizeAndLimits(None, dt.timedelta(days=1),
                               sampling_percent=0.1,
                               sampling_attribute="nope")],
                columns=["name"])


class TestBasicGuards:
    """FullTableScanQueryGuard / TemporalQueryGuard (check_guards)."""

    def test_full_scan_blocked_and_overridable(self):
        with pytest.raises(QueryGuardError, match="full-table scan"):
            check_guards(None, None)
        with pytest.raises(QueryGuardError, match="full-table scan"):
            check_guards(WORLD, None)
        check_guards(None, None, allow_full_scan=True)
        check_guards((0, 0, 1, 1), None)

    def test_temporal_guard(self):
        iv = (T0, T0 + dt.timedelta(days=10))
        check_guards(None, iv, max_interval=dt.timedelta(days=30))
        with pytest.raises(QueryGuardError, match="temporal guard"):
            check_guards(None, iv, max_interval=dt.timedelta(days=3))


def test_apply_sampling_keeps_per_key_share(spark):
    """SAMPLE_BY threads sampling per key: every key keeps roughly its
    share of rows (not whole keys dropped), deterministically."""
    df = spark.createDataFrame(
        [(i, f"k{i % 4}") for i in range(4000)], "event_id long, name string")
    out = apply_sampling(df, 0.25, by="name")
    counts = {r.name: r.c for r in
              out.groupBy("name").count().withColumnRenamed("count", "c")
              .collect()}
    assert set(counts) == {"k0", "k1", "k2", "k3"}  # no key dropped
    for k, c in counts.items():
        assert 150 < c < 350, (k, c)  # ~250 each
    # deterministic: same rows on re-run
    assert out.count() == apply_sampling(df, 0.25, by="name").count()


def test_apply_sampling_truncates_one_over_percent(spark):
    """The reference keeps 1 row in (1 / percent.toFloat).toInt: 28%
    truncates 3.57 to 3 (rounding would keep 1 in 4)."""
    df = spark.createDataFrame([(i,) for i in range(3000)], "event_id long")

    def ids(percent):
        return {r.event_id for r in apply_sampling(df, percent).collect()}

    kept = ids(0.28)
    assert kept == ids(0.3)           # both 1 in 3
    assert kept != ids(0.25)          # 1 in 4
    assert 800 < len(kept) < 1200


def test_spatial_query_runs_graduated_guard(spark):
    """SpatialQuery(guard=...) intercepts before planning: over-budget
    queries raise, in-budget queries run, and a sampled tier thins the
    scan (the reference's interceptor wiring — query guards run inside
    the query path, not as a separate API)."""
    from geomesa_spark.plans.query import SpatialQuery

    df = spark.createDataFrame(
        [(i, f"k{i % 4}", 40.0 + (i % 90) * 0.1, 20.0 + (i % 60) * 0.1,
          dt.datetime(2020, 1, 1, tzinfo=UTC) + dt.timedelta(minutes=i))
         for i in range(2000)],
        "event_id long, name string, lon double, lat double, ts timestamp")

    g = GraduatedQueryGuard(_tiers(), columns=["name"])
    iv = ("2020-01-01T00:00:00+00:00", "2020-01-01T23:00:00+00:00")

    # area 0.5x0.5 -> 60d tier, no sampling: all in-window rows
    q_small = SpatialQuery(bbox=(40, 20, 40.5, 20.5), interval=iv, guard=g)
    full = q_small.apply(df).count()
    assert full > 0

    # whole-world tier at 23h: allowed, but sampled at 10% by name
    q_world = SpatialQuery(interval=iv, guard=g, allow_full_scan=True)
    sampled = q_world.apply(df).count()
    assert 0 < sampled < 2000 * 0.3

    # over the unbounded tier's 1-day budget -> blocked
    q_long = SpatialQuery(
        interval=("2020-01-01T00:00:00+00:00", "2020-01-03T00:00:00+00:00"),
        guard=g, allow_full_scan=True)
    with pytest.raises(QueryGuardError):
        q_long.apply(df)
