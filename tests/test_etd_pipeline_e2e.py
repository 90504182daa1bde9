"""Composite ETD-pipeline contract (combine -> impute -> calculated ->
resample -> project agg -> rollup): structural invariants the oracle's
value-hash can't articulate — conservation between stages, gate
semantics, and the impute-mask coverage the synthesis promises."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _run(spark, sf_dir):
    import __spark_entry__ as e

    return e.queries()["etd_pipeline_e2e"](spark, sf_dir).toPandas()


def test_etd_e2e_conservation_and_gates(spark):
    out = _run(spark, "/root/testdata/sf0.001")
    assert len(out) == 4  # user_id % 4 projects
    assert sorted(out.project_id) == [0, 1, 2, 3]
    # stage-0 conservation: per-project row counts sum to the event count
    import __spark_entry__ as e

    ev = e._t(spark, "/root/testdata/sf0.001", "events")
    assert out.n_rows.sum() == ev.filter(
        F.col("user_id").isNotNull()
    ).count() + ev.filter(F.col("user_id").isNull()).count() * 0  # null
    # projects drop NULL user_id rows via the % 4 key; real fixture has none
    assert out.n_rows.sum() == ev.count()
    # imputation fired but did not touch every row
    assert (out.n_imputed > 0).all() and (out.n_imputed < out.n_rows).all()
    # every rule mask fires SOMEWHERE across projects (incl. 128 clamp)
    union_mask = 0
    for m in out.impute_types:
        union_mask |= int(m)
    assert union_mask == 255, f"missing impute masks: {255 ^ union_mask:#x}"
    # resample min-count + 60% project gates: some buckets gated out
    assert (out.n_gated <= out.n_buckets).all()
    assert (out.n_gated > 0).any() and (out.n_gated < out.n_buckets).all()
    # house_buckets (sum of per-bucket household counts) >= project buckets
    assert (out.house_buckets >= out.n_buckets).all()


def test_etd_e2e_gated_sums_are_finite(spark):
    out = _run(spark, "/root/testdata/sf0.001")
    import numpy as np

    for c in ("sum_avg_vdiff", "sum_avg_netuit", "sum_avg_bruto"):
        vals = out[c].dropna()
        assert len(vals) > 0
        assert np.isfinite(vals).all()
    # VDiff is non-negative post-impute (Min=0 clamp), so the gated
    # project averages must sum non-negative
    assert (out.sum_avg_vdiff.dropna() >= 0).all()


def test_etd_household_series_shape(spark):
    """The shared synthesis: gaps exactly on error/signup rows, avg
    column nulled for view rows and user_id % 7 == 0 houses."""
    import __spark_entry__ as e

    ev = e._t(spark, "/root/testdata/sf0.001", "events")
    base = e._etd_household_series(ev, project_mod=4).toPandas()
    gaps = base[base.VDiff.isna()]
    assert set(gaps.event_type) <= {"error", "signup"}
    noavg = base[base.VDiff_avg.isna()]
    assert (
        (noavg.event_type == "view") | (noavg.HuisIdBSV % 7 == 0)
    ).all()
    assert set(base.ProjectIdBSV) == {0, 1, 2, 3}
