"""Cache-lifetime policy hook (plans.materialize — r3 verdict ask #8):
policies swap HOW multi-consumer subtrees materialize without forking
any plan-building code, and a tracking policy releases cache
deterministically."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_timeseries_java_spark.plans import (
    TrackingPolicy,
    active_policy,
    cache_policy,
    materialization,
    materialize,
    noop_policy,
)


def test_policy_scope_nests_and_clears():
    assert active_policy() is None
    with materialization(noop_policy):
        assert active_policy() is noop_policy
        with materialization(cache_policy):
            assert active_policy() is cache_policy  # innermost wins
        assert active_policy() is noop_policy
    assert active_policy() is None


def test_explicit_false_wins_over_ambient_policy(spark):
    """cache_input=False / cache_plan=False is a caller decision (e.g.
    foreachBatch loops) — an ambient policy must not override it."""
    df = spark.range(10)
    with materialization(cache_policy):
        out = materialize(df, want=False)
    assert out is df
    assert not out.storageLevel.useMemory


def test_noop_policy_produces_identical_rows(spark, sf_dir):
    """Policies are lifetime-only: same rows out under noop vs cache.
    fx_pair_correlation composes candles → returns → pairwise
    correlations, the heaviest cache-defaulting builder chain."""
    from data_timeseries_java_spark.queries import all_queries

    q = all_queries()["fx_pair_correlation"]
    with materialization(noop_policy):
        uncached = {tuple(r) for r in q(spark, sf_dir).collect()}
    spark.catalog.clearCache()
    cached = {tuple(r) for r in q(spark, sf_dir).collect()}
    spark.catalog.clearCache()
    assert uncached == cached
    assert len(uncached) > 0


def test_tracking_policy_releases_every_subtree(spark):
    """The service-caller shape: run a pipeline under a TrackingPolicy,
    then unpersist_all() returns the session to a cache-free state."""
    from data_timeseries_java_spark.api import FXEngine
    from data_timeseries_java_spark.fixtures import demo_ticks

    spark.catalog.clearCache()
    with materialization(TrackingPolicy()) as tracked:
        n_rows = FXEngine(spark).run(demo_ticks(spark)).count()
    assert n_rows > 0
    # pairwise_correlations' windowed-returns input was routed
    assert len(tracked.frames) >= 1
    assert all(f.storageLevel.useMemory for f in tracked.frames)
    released = tracked.unpersist_all()
    assert released >= 1
    # idempotent second release; frames list cleared
    assert tracked.unpersist_all() == 0


def test_builders_route_through_ambient_policy(spark):
    """A counting policy sees the exact subtrees the builders declare
    cacheable — proof the hook reaches every converted site."""
    from data_timeseries_java_spark.fixtures import demo_ticks
    from data_timeseries_java_spark.operators import (
        log_returns,
        ohlc_candles,
        pairwise_correlations,
    )

    calls = []

    def counting(df):
        calls.append(df)
        return df  # no actual caching — plan shape only

    returns = log_returns(ohlc_candles(demo_ticks(spark), "120 seconds"))
    with materialization(counting):
        pairwise_correlations(returns).count()
    assert len(calls) == 1  # the windowed-returns subtree, exactly once
