"""Composite weather-pipeline contract (KNMI-style hourly ingest ->
Gevoelstemperatuur -> gated rolling average -> coldest-window marking ->
ISO-week aggregates -> top-2 coldest-week rank -> 3-key fact join ->
weekly rollup): structural invariants the oracle's value-hash can't
articulate — rank cardinality, gate monotonicity, stage conservation,
and the broadcast-join plan shape (reference load_data.py:103-317)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _run(spark, sf_dir=SF):
    import __spark_entry__ as e

    return e.queries()["weather_pipeline_e2e"](spark, sf_dir).toPandas()


def test_weather_e2e_rank_and_gate_invariants(spark):
    out = _run(spark)
    assert len(out) > 0
    # per (stn, year): exactly min(2, weeks-with-average) coldest flags,
    # and the flagged weeks carry the smallest weekly averages
    for (_, _), g in out.groupby(["stn", "year"], dropna=False):
        n_avg = g.weekly_avg_temp.notna().sum()
        assert g.is_coldest_temp.sum() == min(2, n_avg)
        assert g.is_coldest_gevoel.sum() == min(2, g.weekly_avg_gevoel.notna().sum())
        if n_avg > 2:
            flagged_max = g[g.is_coldest_temp == 1].weekly_avg_temp.max()
            unflagged_min = g[(g.is_coldest_temp == 0)
                              & g.weekly_avg_temp.notna()].weekly_avg_temp.min()
            assert flagged_max <= unflagged_min
    # week grain: days_in_week is floor(n_hours/24); RA gate only removes
    assert (out.days_in_week == out.n_hours // 24).all()
    assert (out.n_ra_hours <= out.n_hours).all()
    # min_periods=24 gates the head of every station's series
    assert out.n_ra_hours.sum() < out.n_hours.sum()
    # the coldest trailing window is marked somewhere, but never everywhere
    assert out.n_cold2wk_hours.sum() > 0
    assert out.n_cold2wk_hours.sum() < out.n_hours.sum()


def test_weather_e2e_fact_conservation(spark):
    import __spark_entry__ as e

    out = _run(spark)
    ev = e._t(spark, SF, "events").filter(F.col("ts").isNotNull())
    n_keyed = ev.filter(F.col("user_id").isNotNull()).count()
    # every non-null-station event lands in exactly one weekly bucket
    # (null-station events miss the equality join and fall out of the
    # weekly grain — same on both engines)
    assert out.n_events.sum() == n_keyed
    assert (out.n_cold_events <= out.n_events).all()
    # joined weather columns are present wherever events joined
    joined = out[out.n_events > 0]
    assert joined.avg_gevoel_at_event.notna().all()


def test_weather_e2e_plan_shape(spark):
    """Fact join must broadcast the (small) weather side; no cartesian
    products anywhere in the composite."""
    import __spark_entry__ as e

    df = e.queries()["weather_pipeline_e2e"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
