"""Property-based invariants for the round-10 operators: the Poisson
bootstrap must bracket the point estimate and be retry-deterministic,
isotonic calibration must equal a reference PAV exactly on the binned
substrate, BH must match the textbook step-up rule, split-conformal's
q-hat must be the exact order statistic, and Cramér's V must land in
[0,1] hitting the endpoints on independent / deterministic tables."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# poisson bootstrap
# ---------------------------------------------------------------------------

def test_poisson1_cdf_literals_and_sql_twin_agree():
    from etdtransform_spark.operators.bootstrap import (
        _POISSON1_CDF,
        poisson1_weight_sql,
    )

    # the CDF prefix is the analytically-correct e^-1 * cumsum(1/k!)
    acc, e1 = 0.0, math.exp(-1.0)
    for k, c in enumerate(_POISSON1_CDF):
        acc += e1 / math.factorial(k)
        assert c == pytest.approx(acc, abs=0.0)
    sql = poisson1_weight_sql("u")
    # every literal appears verbatim (repr) in the SQL twin
    for c in _POISSON1_CDF:
        assert repr(c) in sql
    import duckdb

    # the SQL CASE chain inverts the CDF exactly at the boundaries
    got = duckdb.sql(
        f"SELECT {poisson1_weight_sql('u')} AS w FROM ("
        f"SELECT unnest([0.0, {_POISSON1_CDF[0] - 1e-12!r}, "
        f"{_POISSON1_CDF[0]!r}, 0.9999, 0.99999999]) AS u) ORDER BY u"
    ).fetchall()
    assert [r[0] for r in got] == [0, 0, 1, 6, 8]


def test_poisson_bootstrap_brackets_mean_and_is_deterministic(spark):
    from etdtransform_spark.operators.bootstrap import poisson_bootstrap_ci

    rows = [(i, float((i * 37) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, x double")
    a = poisson_bootstrap_ci(df, "x", "id", n_boot=120).collect()[0]
    b = poisson_bootstrap_ci(
        df.repartition(7), "x", "id", n_boot=120
    ).collect()[0]
    assert a == b  # partitioning/retry invariant
    assert a.n_rows == 300 and a.n_boot_effective == 120
    assert a.ci_lo <= a.point_mean <= a.ci_hi
    # CI shrinks roughly like 1/sqrt(n): the 300-row band must be
    # narrower than a 30-row subsample's band
    small = poisson_bootstrap_ci(
        df.filter("id < 30"), "x", "id", n_boot=120
    ).collect()[0]
    assert (a.ci_hi - a.ci_lo) < (small.ci_hi - small.ci_lo)


def test_poisson_bootstrap_null_and_empty_conventions(spark):
    from etdtransform_spark.operators.bootstrap import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(1, None), (2, float("nan")), (None, 5.0)],
        "id bigint, x double",
    )
    row = poisson_bootstrap_ci(df, "x", "id", n_boot=10).collect()[0]
    assert row.n_rows == 0 and row.point_mean is None
    keyed = poisson_bootstrap_ci(
        df.withColumn("k", df.id % 2), "x", "id", keys=["k"], n_boot=10
    ).collect()
    assert keyed == []  # keyed empty segments vanish
    with pytest.raises(ValueError):
        poisson_bootstrap_ci(df, "x", "id", n_boot=1)


# ---------------------------------------------------------------------------
# isotonic calibration
# ---------------------------------------------------------------------------

def _pav(weights, means):
    """Reference pool-adjacent-violators on (w, mean) blocks."""
    blocks = [[w, w * m] for w, m in zip(weights, means)]
    out = []
    for b in blocks:
        out.append(b)
        while len(out) > 1 and out[-2][1] / out[-2][0] > out[-1][1] / out[-1][0]:
            w2, s2 = out.pop()
            out[-1][0] += w2
            out[-1][1] += s2
    # expand each pooled block's value back to its original members
    expanded, i = [], 0
    for w, s in out:
        total, val = 0, s / w
        while total < w:
            total += weights[i]
            expanded.append(val)
            i += 1
    return expanded


labels = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # bin-ish score
        st.booleans(),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None)
@given(labels)
def test_isotonic_equals_reference_pav(spark, data):
    from etdtransform_spark.operators.evaluation import isotonic_calibration

    rows = [(s / 10.0 + 0.05, 1.0 if y else 0.0) for s, y in data]
    df = spark.createDataFrame(rows, "score double, label double")
    got = sorted(
        (r.bin, r.n, r.iso_rate, r.raw_rate)
        for r in isotonic_calibration(df, "score", "label", n_bins=10,
                                      digits=9).collect()
    )
    # reference PAV on the same non-empty-bin substrate
    agg = {}
    for s, y in rows:
        b = min(int(s * 10), 9)
        w, t = agg.get(b, (0, 0.0))
        agg[b] = (w + 1, t + y)
    bins = sorted(agg)
    ws = [agg[b][0] for b in bins]
    ms = [agg[b][1] / agg[b][0] for b in bins]
    expect = _pav(ws, ms)
    assert [b for b, *_ in got] == bins
    for (b, n, iso, raw), w, m, e in zip(got, ws, ms, expect):
        assert n == w
        assert raw == pytest.approx(round(m, 9), abs=1e-9)
        assert iso == pytest.approx(e, abs=1e-9)
    # monotone non-decreasing
    iso_seq = [iso for _b, _n, iso, _r in got]
    assert all(a <= b + 1e-12 for a, b in zip(iso_seq, iso_seq[1:]))


def test_isotonic_rejects_bad_bins(spark):
    from etdtransform_spark.operators.evaluation import isotonic_calibration

    df = spark.createDataFrame([(0.5, 1.0)], "score double, label double")
    with pytest.raises(ValueError):
        isotonic_calibration(df, "score", "label", n_bins=0)


# ---------------------------------------------------------------------------
# benjamini-hochberg
# ---------------------------------------------------------------------------

pvals = st.lists(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(pvals)
def test_bh_matches_step_up_rule(spark, ps):
    from etdtransform_spark.operators.stats import benjamini_hochberg

    alpha = 0.1
    rows = [(f"t{i:03d}", p) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "test string, p double")
    got = {
        r.test: (r.rank, r.p_adj, r.reject)
        for r in benjamini_hochberg(df, "p", ["test"], alpha=alpha).collect()
    }
    m = len(ps)
    order = sorted(range(m), key=lambda i: (ps[i], f"t{i:03d}"))
    # textbook step-up: largest i with p_(i) <= i/m * alpha; reject 1..i
    cutoff = 0
    for pos, i in enumerate(order, start=1):
        if ps[i] <= pos / m * alpha + 1e-15:
            cutoff = pos
    for pos, i in enumerate(order, start=1):
        rank, p_adj, reject = got[f"t{i:03d}"]
        assert rank == pos
        assert reject == (pos <= cutoff)
        # adjusted p is the suffix-min of p*m/rank, capped at 1
        expect_adj = min(
            min(ps[j] * m / q for q, j in enumerate(order, start=1) if q >= pos),
            1.0,
        )
        assert p_adj == pytest.approx(round(expect_adj, 6), abs=1e-6)


# ---------------------------------------------------------------------------
# split conformal
# ---------------------------------------------------------------------------

def test_split_conformal_qhat_is_exact_order_statistic(spark):
    from etdtransform_spark.operators.evaluation import split_conformal
    from etdtransform_spark.functions.hashing import portable_hash64  # noqa: F401

    rows = [(i, float(i % 50), float(i % 50) + ((i * 13) % 7) - 3.0)
            for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, actual double, pred double")
    out = split_conformal(df, "pred", "actual", "id", alpha=0.2,
                          cal_frac=0.5).collect()[0]
    # recompute the calibration split with the same hash in python
    import hashlib

    def u(i):
        h = int(hashlib.md5(f"conformal|{i}".encode()).hexdigest()[:15], 16)
        return ((h % (1 << 20)) + 0.5) / (1 << 20)

    cal = sorted(
        round(abs(a - p), 6)
        for i, a, p in rows
        if u(i) < 0.5
    )
    n_cal = len(cal)
    k = math.ceil((n_cal + 1) * 0.8)
    assert out.n_cal == n_cal
    assert out.qhat == pytest.approx(cal[k - 1], abs=1e-9)
    assert out.n_eval == len(rows) - n_cal
    assert out.target_coverage == pytest.approx(0.8)
    assert 0.7 <= out.coverage <= 1.0  # empirical coverage near target
    assert out.avg_width == pytest.approx(2 * out.qhat, abs=1e-9)


def test_split_conformal_empty_calibration_fails_closed(spark):
    from etdtransform_spark.operators.evaluation import split_conformal

    df = spark.createDataFrame([], "id bigint, actual double, pred double")
    out = split_conformal(df, "pred", "actual", "id").collect()[0]
    assert out.n_cal == 0 and out.qhat is None and out.coverage is None


# ---------------------------------------------------------------------------
# cramér's V
# ---------------------------------------------------------------------------

def test_cramers_v_endpoints(spark):
    from etdtransform_spark.operators.stats import cramers_v

    # perfectly dependent: outcome == group -> V = 1
    dep = spark.createDataFrame(
        [(g, g) for g in "abc" for _ in range(10)], "g string, o string"
    )
    row = cramers_v(dep, "g", "o").collect()[0]
    assert row.cramers_v == pytest.approx(1.0, abs=1e-9)
    # independent uniform table -> chi2 = 0 -> V = 0
    ind = spark.createDataFrame(
        [(g, o) for g in "ab" for o in "xy" for _ in range(5)],
        "g string, o string",
    )
    row = cramers_v(ind, "g", "o").collect()[0]
    assert row.chi2 == pytest.approx(0.0, abs=1e-9)
    assert row.cramers_v == pytest.approx(0.0, abs=1e-9)
    # degenerate single-level outcome -> NULL (undefined, not 0)
    deg = spark.createDataFrame(
        [("a", "x"), ("b", "x")], "g string, o string"
    )
    row = cramers_v(deg, "g", "o").collect()[0]
    assert row.cramers_v is None


# ---------------------------------------------------------------------------
# embedding-space statistics
# ---------------------------------------------------------------------------

def _toy_embeddings(spark, n=60, d=6):
    """Deterministic anisotropic vectors: dim k has scale (k+1)."""
    rows = []
    for i in range(n):
        rows.append((
            i,
            [((i * 7 + k * 13) % 11 - 5.0) * (k + 1) / 5.0 for k in range(d)],
        ))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from etdtransform_spark.operators.embeddings import embedding_covariance

    df = _toy_embeddings(spark)
    arr = np.array([r.embedding for r in df.collect()])
    expect = np.cov(arr, rowvar=False, ddof=1)
    got = embedding_covariance(df, n_dims=6, digits=9).collect()
    assert len(got) == 6 * 7 // 2
    for r in got:
        assert r.n == len(arr)
        assert r.cov == pytest.approx(expect[r.i, r.j], abs=1e-8)
    # NULL-element / empty / NULL vectors are gated out
    dirty = df.union(spark.createDataFrame(
        [(100, None), (101, []), (102, [1.0, None, 1.0, 1.0, 1.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    ))
    got2 = {(r.i, r.j): r.cov for r in
            embedding_covariance(dirty, n_dims=6, digits=9).collect()}
    for r in got:
        assert got2[(r.i, r.j)] == pytest.approx(r.cov, abs=0.0)


def test_embedding_standardize_zero_mean_unit_var(spark):
    import numpy as np

    from etdtransform_spark.operators.embeddings import embedding_standardize

    df = _toy_embeddings(spark)
    out = embedding_standardize(df, n_dims=6, digits=9)
    arr = np.array([r.embedding for r in out.collect()])
    assert arr.shape == (60, 6)
    assert np.abs(arr.mean(axis=0)).max() < 1e-6
    assert np.abs(arr.std(axis=0, ddof=1) - 1.0).max() < 1e-6
    # constant dimension -> NULL z, not a fabricated value
    const = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(5)],
        "vec_id bigint, embedding array<double>",
    )
    z = embedding_standardize(const, n_dims=2).collect()
    assert all(r.embedding[0] is None for r in z)
    assert all(r.embedding[1] is not None for r in z)


def test_embedding_energy_profile_orders_by_variance(spark):
    from etdtransform_spark.operators.embeddings import (
        embedding_energy_profile,
    )

    df = _toy_embeddings(spark)
    rows = sorted(
        embedding_energy_profile(df, n_dims=6).collect(),
        key=lambda r: r.rank,
    )
    # the toy construction scales dim k by (k+1): variance strictly grows
    assert [r.dim for r in rows] == [5, 4, 3, 2, 1, 0]
    vs = [r.variance for r in rows]
    assert all(a >= b for a, b in zip(vs, vs[1:]))
    assert rows[-1].cum_share == pytest.approx(1.0, abs=1e-6)
    shares = sum(r.share for r in rows)
    assert shares == pytest.approx(1.0, abs=1e-5)


def test_matryoshka_recall_full_dims_is_one(spark):
    from etdtransform_spark.operators.embeddings import matryoshka_recall

    df = _toy_embeddings(spark, n=30)
    r = matryoshka_recall(df, m_dims=6, k=3).collect()[0]
    assert r.recall == pytest.approx(1.0, abs=0.0)  # no truncation
    assert r.n_queries == 30
    r2 = matryoshka_recall(df, m_dims=2, k=3).collect()[0]
    assert 0.0 <= r2.recall <= 1.0
    with pytest.raises(ValueError):
        matryoshka_recall(df, m_dims=0)


def test_pca_project_properties(spark):
    import numpy as np

    from etdtransform_spark.operators.embeddings import (
        embedding_covariance,
        pca_project,
    )

    df = _toy_embeddings(spark)
    out = pca_project(df, n_components=3, n_dims=6, digits=9)
    arr = np.array([r.pc for r in out.collect()])
    assert arr.shape == (60, 3)
    # projected components are uncorrelated with variance ordered desc,
    # and variances equal the top eigenvalues of the sample covariance
    raw = np.array([r.embedding for r in df.collect()])
    evals = np.sort(np.linalg.eigvalsh(np.cov(raw, rowvar=False, ddof=1)))
    top = evals[::-1][:3]
    got_var = arr.var(axis=0, ddof=1)
    assert got_var == pytest.approx(top, rel=1e-6)
    c = np.cov(arr, rowvar=False, ddof=1)
    off = c - np.diag(np.diag(c))
    assert np.abs(off).max() < 1e-6
    # deterministic under repartition (sign convention + literal model)
    out2 = pca_project(df.repartition(5), n_components=3, n_dims=6, digits=9)
    a2 = {r.vec_id: r.pc for r in out2.collect()}
    for r in out.collect():
        assert a2[r.vec_id] == pytest.approx(r.pc, abs=1e-9)
    with pytest.raises(ValueError):
        pca_project(df, n_components=0, n_dims=6)


# ---------------------------------------------------------------------------
# experiment readout: CUPED + SRM
# ---------------------------------------------------------------------------

def test_cuped_reduces_variance_and_preserves_lift(spark):
    import numpy as np

    from etdtransform_spark.operators.stats import cuped_summary

    # y = x + arm_effect + deterministic noise; x is pre-experiment
    rows = []
    for i in range(400):
        x = float((i * 29) % 83)
        arm = "t" if (i * 7) % 2 else "c"
        noise = ((i * 13) % 11) - 5.0
        y = x + (3.0 if arm == "t" else 0.0) + noise
        rows.append((arm, y, x))
    df = spark.createDataFrame(rows, "arm string, y double, x double")
    out = {r.arm: r for r in
           cuped_summary(df, "y", "x", "arm", digits=9).collect()}
    ys = {a: [y for arm, y, x in rows if arm == a] for a in "ct"}
    # raw means match; adjusted lift ~ raw lift (theta is pooled)
    for a in "ct":
        assert out[a].mean_raw == pytest.approx(
            float(np.mean(ys[a])), abs=1e-6)
    lift_raw = out["t"].mean_raw - out["c"].mean_raw
    lift_adj = out["t"].mean_adj - out["c"].mean_adj
    assert lift_adj == pytest.approx(lift_raw, abs=1.0)
    # the covariate explains most variance: big reduction
    assert out["t"].var_reduction < 0.2
    assert out["c"].var_reduction < 0.2
    assert out["t"].theta == out["c"].theta  # pooled
    # constant covariate -> NULL theta, raw means intact
    const = cuped_summary(
        df.withColumn("x", df.y * 0), "y", "x", "arm", digits=9
    ).collect()
    assert all(r.theta is None and r.mean_adj is None for r in const)
    assert all(r.mean_raw is not None for r in const)


def test_srm_check_detects_broken_allocation(spark):
    from etdtransform_spark.operators.stats import chi2_critical, srm_check

    # chi2_critical vs table values: dof 1/2 exact, WH for dof >= 3
    assert chi2_critical(1, 0.05) == pytest.approx(3.8415, abs=2e-4)
    assert chi2_critical(2, 0.01) == pytest.approx(9.2103, abs=2e-4)
    assert chi2_critical(4, 0.001) == pytest.approx(18.467, rel=2e-2)
    assert chi2_critical(10, 0.05) == pytest.approx(18.307, rel=1e-2)
    ok = spark.createDataFrame(
        [("a",)] * 500 + [("b",)] * 490, "arm string"
    )
    r = srm_check(ok, "arm", {"a": 0.5, "b": 0.5}).collect()[0]
    assert r.srm_detected is False and r.n == 990 and r.dof == 1
    broken = spark.createDataFrame(
        [("a",)] * 600 + [("b",)] * 400 + [("zzz",)] * 7 + [(None,)],
        "arm string",
    )
    r = srm_check(broken, "arm", {"a": 0.5, "b": 0.5}).collect()[0]
    assert r.srm_detected is True
    assert r.n == 1000 and r.n_unexpected == 8
    # empty assignment: fail closed
    r = srm_check(
        spark.createDataFrame([], "arm string"), "arm", {"a": 1.0}
    ).collect()[0]
    assert r.n == 0 and r.chi2 is None and r.srm_detected is None
    with pytest.raises(ValueError):
        srm_check(ok, "arm", {})
    with pytest.raises(ValueError):
        srm_check(ok, "arm", {"a": -1.0})


# ---------------------------------------------------------------------------
# corpus spectrum + token entropy
# ---------------------------------------------------------------------------

def test_zipf_fit_recovers_planted_slope(spark):
    import math

    from etdtransform_spark.operators.corpus import zipf_fit

    # plant an exact zipf corpus: term k appears round(1000/k) times
    words = []
    for k in range(1, 41):
        words.extend([f"w{k:02d}"] * round(1000 / k))
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    r = zipf_fit(df, top_n=100, digits=9).collect()[0]
    assert r.n_terms == 40
    assert r.slope == pytest.approx(-1.0, abs=0.02)
    assert r.r_squared > 0.999
    # python OLS replica on the exact points
    pts = [(math.log(k), math.log(round(1000 / k))) for k in range(1, 41)]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert r.slope == pytest.approx(slope, abs=1e-6)


def test_token_entropy_extremes(spark):
    import math

    from etdtransform_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # one type: H = 0
            (2, "a b c d"),                       # uniform: H = ln 4
            (3, None),                            # no row
            (4, "   "),                           # no tokens: no row
        ],
        "doc_id bigint, text string",
    )
    rows = {r.id: r for r in token_entropy(df, digits=9).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].entropy == pytest.approx(0.0, abs=1e-9)
    assert rows[1].max_share == 1.0 and rows[1].n_types == 1
    assert rows[2].entropy == pytest.approx(math.log(4), abs=1e-9)
    assert rows[2].type_token_ratio == 1.0 and rows[2].max_share == 0.25


# ---------------------------------------------------------------------------
# t-closeness
# ---------------------------------------------------------------------------

def test_t_closeness_matches_definition(spark):
    from etdtransform_spark.operators.privacy import t_closeness

    # group 0: all 'x' (max skew); group 1: mirrors the global mix
    rows = [(0, "x")] * 10 + [(1, "x")] * 5 + [(1, "y")] * 5
    df = spark.createDataFrame(rows, "q int, s string")
    out = {r.q: r for r in
           t_closeness(df, ["q"], "s", threshold=0.2, digits=9).collect()}
    # global p = {x: 15/20, y: 5/20}
    # group 0: p_g = {x: 1}; t = 0.5(|1 - .75| + (1 - .75)) = 0.25
    assert out[0].t_distance == pytest.approx(0.25, abs=1e-9)
    assert out[0].violates is True
    # group 1: p_g = {x: .5, y: .5}; t = 0.5(|.5-.75| + |.5-.25|) = 0.25
    assert out[1].t_distance == pytest.approx(0.25, abs=1e-9)
    # identical distribution -> t = 0
    uni = spark.createDataFrame(
        [(g, s) for g in (0, 1) for s in "xy" for _ in range(3)],
        "q int, s string",
    )
    for r in t_closeness(uni, ["q"], "s", threshold=0.2, digits=9).collect():
        assert r.t_distance == pytest.approx(0.0, abs=1e-9)
        assert r.violates is False
    with pytest.raises(ValueError):
        t_closeness(df, [], "s")


# ---------------------------------------------------------------------------
# bucketed layout: shuffle-free co-located join
# ---------------------------------------------------------------------------

def test_bucketed_join_has_no_exchange(spark):
    import re

    from etdtransform_spark.sources.parquet import write_bucketed

    a = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "k bigint, x double"
    )
    b = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(200)], "k bigint, g string"
    )
    write_bucketed(a, "t_bucket_a", "k", 4, path="/tmp/etd_bucket/t_a")
    write_bucketed(b, "t_bucket_b", "k", 4, path="/tmp/etd_bucket/t_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        # both scans bucketed, join needs NO exchange at all
        assert "Bucketed: true" in plan
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert j.count() == 200
        # and a groupBy on the bucket key needs no exchange either
        g = spark.table("t_bucket_a").groupBy("k").count()
        gplan = g._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in gplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    with pytest.raises(ValueError):
        write_bucketed(a, "t_bad", "k", 0)


# ---------------------------------------------------------------------------
# MDE + k-fold
# ---------------------------------------------------------------------------

def test_mde_matches_formula(spark):
    import math

    from etdtransform_spark.operators.stats import _inv_norm_cdf, mde_estimate

    vals = [float((i * 31) % 97) for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = mde_estimate(df, "x", alpha=0.05, power=0.8, digits=9).collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / (n - 1)
    z = _inv_norm_cdf(0.975) + _inv_norm_cdf(0.8)
    expect = z * math.sqrt(var) * math.sqrt(2.0 / (n // 2))
    assert r.n_rows == n and r.n_per_arm == n // 2
    assert r.sd == pytest.approx(math.sqrt(var), abs=1e-8)
    assert r.mde_abs == pytest.approx(expect, abs=1e-8)
    assert r.mde_rel == pytest.approx(expect / mean, abs=1e-8)
    # Acklam inverse normal sanity
    assert _inv_norm_cdf(0.975) == pytest.approx(1.959964, abs=1e-5)
    assert _inv_norm_cdf(0.8) == pytest.approx(0.841621, abs=1e-5)
    # constant metric -> NULL MDE, counts intact
    c = mde_estimate(
        spark.createDataFrame([(1.0,)] * 10, "x double"), "x"
    ).collect()[0]
    assert c.n_rows == 10 and c.sd is None and c.mde_abs is None
    with pytest.raises(ValueError):
        mde_estimate(df, "x", n_per_arm=0)


def test_kfold_assign_is_leak_free_and_deterministic(spark):
    from etdtransform_spark.operators.sessions import kfold_assign

    df = spark.createDataFrame(
        [(i % 50, i) for i in range(300)], "entity bigint, row_id bigint"
    )
    out = kfold_assign(df, "entity", k=5).collect()
    by_entity = {}
    for r in out:
        by_entity.setdefault(r.entity, set()).add(r.fold)
    # every row of an entity lands in ONE fold (leak-free by key)
    assert all(len(s) == 1 for s in by_entity.values())
    assert set().union(*by_entity.values()) <= set(range(5))
    # deterministic under repartition
    out2 = {(r.entity, r.row_id): r.fold
            for r in kfold_assign(df.repartition(7), "entity", k=5).collect()}
    for r in out:
        assert out2[(r.entity, r.row_id)] == r.fold
    # NULL key -> NULL fold
    nul = kfold_assign(
        spark.createDataFrame([(None, 1)], "entity bigint, row_id bigint"),
        "entity", k=5,
    ).collect()[0]
    assert nul.fold is None
    with pytest.raises(ValueError):
        kfold_assign(df, "entity", k=1)


# ---------------------------------------------------------------------------
# streaming SRM == batch SRM per window
# ---------------------------------------------------------------------------

def test_streaming_srm_matches_batch(spark, tmp_path):
    import uuid

    from etdtransform_spark.operators.stats import srm_check
    from etdtransform_spark.streaming.quality_stream import (
        streaming_srm_monitor,
    )

    rows = []
    for i in range(300):
        day = i % 2
        arm = ["a", "b", "c"][i % 3] if day == 0 else ("a" if i % 4 else "b")
        rows.append((f"2024-01-0{day + 1} 0{i % 10}:00:00", arm))
    src = spark.createDataFrame(rows, "ts_s string, arm string").select(
        F.to_timestamp("ts_s").alias("ts"), "arm"
    )
    pq = str(tmp_path / "srm_events")
    src.write.parquet(pq)
    stream = spark.readStream.schema(src.schema).parquet(pq)
    mon = streaming_srm_monitor(
        stream, "arm", "ts", {"a": 1, "b": 1, "c": 1}, alpha=0.05,
        window="1 day",
    )
    name = f"t_srm_{uuid.uuid4().hex[:8]}"
    q = (mon.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.bucket_ts.day: r for r in spark.table(name).collect()}
    for day in (1, 2):
        batch = srm_check(
            src.filter(F.dayofmonth("ts") == day), "arm",
            {"a": 1, "b": 1, "c": 1}, alpha=0.05,
        ).collect()[0]
        s = got[day]
        assert s.n == batch.n and s.chi2 == batch.chi2
        assert bool(s.srm_detected) == batch.srm_detected
    # day 1 balanced, day 2 deliberately skewed
    assert got[1].srm_detected == 0 and got[2].srm_detected == 1
    with pytest.raises(ValueError):
        streaming_srm_monitor(stream, "arm", "ts", {})


# ---------------------------------------------------------------------------
# ranking metrics
# ---------------------------------------------------------------------------

def test_ranking_metrics_match_reference(spark):
    import math

    from etdtransform_spark.operators.ranking import (
        ranking_metrics,
        ranking_summary,
    )

    # one query, hand-checkable: scores rank items a>b>c>d, rels 0,2,1,0
    rows = [
        ("q1", "a", 0.9, 0.0),
        ("q1", "b", 0.8, 2.0),
        ("q1", "c", 0.7, 1.0),
        ("q1", "d", 0.6, 0.0),
    ]
    df = spark.createDataFrame(rows, "q string, item string, s double, rel double")
    r = ranking_metrics(df, "q", "item", "s", "rel", k=3, digits=9).collect()[0]
    dcg = 3.0 / math.log2(3) + 1.0 / math.log2(4)     # b at pos2, c at pos3
    idcg = 3.0 / math.log2(2) + 1.0 / math.log2(3)    # ideal: b, c first
    assert r.dcg == pytest.approx(dcg, abs=1e-9)
    assert r.idcg == pytest.approx(idcg, abs=1e-9)
    assert r.ndcg == pytest.approx(dcg / idcg, abs=1e-9)
    assert r.rr == pytest.approx(0.5, abs=1e-9)        # first relevant at 2
    assert r.precision_at_k == pytest.approx(2 / 3, abs=1e-9)
    assert r.recall_at_k == pytest.approx(1.0, abs=1e-9)
    # no relevant items -> NULL ndcg/rr/recall, not 0
    none = ranking_metrics(
        spark.createDataFrame(
            [("q2", "a", 0.9, 0.0)], "q string, item string, s double, rel double"
        ),
        "q", "item", "s", "rel", k=3,
    ).collect()[0]
    assert none.ndcg is None and none.rr is None and none.recall_at_k is None
    assert none.precision_at_k == 0.0
    # summary means skip the undefined query
    both = df.union(spark.createDataFrame(
        [("q2", "a", 0.9, 0.0)], "q string, item string, s double, rel double"
    ))
    s = ranking_summary(both, "q", "item", "s", "rel", k=3, digits=9).collect()[0]
    assert s.n_queries == 2
    assert s.mean_ndcg == pytest.approx(dcg / idcg, abs=1e-9)
    with pytest.raises(ValueError):
        ranking_metrics(df, "q", "item", "s", "rel", k=0)


def test_rbo_properties(spark):
    from etdtransform_spark.operators.ranking import rbo_overlap

    a = spark.createDataFrame(
        [(1, f"i{j}", j) for j in range(1, 6)],
        "query_id int, neighbor_id string, rank bigint",
    )
    # identical lists: RBO@k = (1-p) sum p^(d-1) = 1 - p^k
    same = rbo_overlap(a, a, p=0.9, k=5, digits=9).collect()[0]
    assert same.rbo == pytest.approx(1 - 0.9 ** 5, abs=1e-9)
    assert same.n_matched == 5
    assert same.p_residual == pytest.approx(0.9 ** 5, abs=1e-9)
    # disjoint lists: 0
    b = spark.createDataFrame(
        [(1, f"x{j}", j) for j in range(1, 6)],
        "query_id int, neighbor_id string, rank bigint",
    )
    assert rbo_overlap(a, b, p=0.9, k=5).collect()[0].rbo == 0.0
    # reversal: same set, reversed order — RBO strictly between
    rev = spark.createDataFrame(
        [(1, f"i{j}", 6 - j) for j in range(1, 6)],
        "query_id int, neighbor_id string, rank bigint",
    )
    mid = rbo_overlap(a, rev, p=0.9, k=5, digits=9).collect()[0]
    assert 0.0 < mid.rbo < 1 - 0.9 ** 5
    assert mid.n_matched == 5
    # symmetric
    mid2 = rbo_overlap(rev, a, p=0.9, k=5, digits=9).collect()[0]
    assert mid2.rbo == mid.rbo
    # query present on one side only -> rbo 0 against the empty list
    c = spark.createDataFrame(
        [(2, "z1", 1)], "query_id int, neighbor_id string, rank bigint"
    )
    rows = {r.query: r.rbo for r in
            rbo_overlap(a.union(c), a, p=0.9, k=5).collect()}
    assert rows[2] == 0.0
    with pytest.raises(ValueError):
        rbo_overlap(a, b, p=1.0)


# ---------------------------------------------------------------------------
# mid-round code-review closures (pins)
# ---------------------------------------------------------------------------

def test_bucketed_cardinality_counts_buckets_not_tasks(spark):
    from etdtransform_spark.sources.parquet import (
        bucketed_cardinality,
        write_bucketed,
    )

    # 3 writer partitions x 4 buckets -> 12 files; the audit must
    # re-aggregate to 4 per-BUCKET rows summing to the table size
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, x double"
    ).repartition(3)
    write_bucketed(df, "t_card_pin", "k", 4, path="/tmp/etd_bucket/t_cp")
    rows = bucketed_cardinality(spark, "t_card_pin").collect()
    assert len(rows) == 4
    assert sorted(r.bucket_id for r in rows) == [0, 1, 2, 3]
    assert sum(r.n_rows for r in rows) == 100


def test_bootstrap_null_key_segment_keeps_its_ci(spark):
    from etdtransform_spark.operators.bootstrap import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, float(i % 7), None if i % 3 else "g") for i in range(60)],
        "id bigint, x double, k string",
    )
    rows = {r.k: r for r in
            poisson_bootstrap_ci(df, "x", "id", keys=["k"],
                                 n_boot=20).collect()}
    assert set(rows) == {"g", None}
    null_seg = rows[None]
    assert null_seg.ci_lo is not None and null_seg.n_boot_effective == 20


def test_pca_project_short_vectors_get_null_pc(spark):
    from etdtransform_spark.operators.embeddings import pca_project

    base = _toy_embeddings(spark)
    short = base.union(spark.createDataFrame(
        [(999, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    ))
    out = {r.vec_id: r.pc for r in
           pca_project(short, n_components=2, n_dims=6).collect()}
    assert out[999] is None               # shorter than n_dims: NULL pc
    assert out[0] is not None and all(v is not None for v in out[0])


# ---------------------------------------------------------------------------
# QQ table, Lorenz curve, join pre-flight
# ---------------------------------------------------------------------------

def test_qq_table_identical_samples_have_zero_gap(spark):
    from etdtransform_spark.operators.stats import qq_table

    rows = [(float(i % 50), s) for i in range(200) for s in ("a", "b")]
    df = spark.createDataFrame(rows, "x double, s string")
    out = qq_table(df, "x", "s", "a", "b", n_q=8, digits=9).collect()
    assert len(out) == 8
    assert all(r.gap == 0.0 for r in out)
    assert [r.level for r in out] == sorted(r.level for r in out)
    # shifted sample: constant positive gap
    sh = spark.createDataFrame(
        [(float(i % 50), "a") for i in range(200)]
        + [(float(i % 50) + 5.0, "b") for i in range(200)],
        "x double, s string",
    )
    out2 = qq_table(sh, "x", "s", "a", "b", n_q=8, digits=9).collect()
    assert all(r.gap == pytest.approx(5.0, abs=1e-9) for r in out2)
    with pytest.raises(ValueError):
        qq_table(df, "x", "s", "a", "b", n_q=0)


def test_lorenz_curve_shapes(spark):
    from etdtransform_spark.operators.stats import lorenz_curve

    # perfectly equal values: lorenz = diagonal at every grid point
    eq = spark.createDataFrame([(7.0,)] * 100, "x double")
    # equal values collapse to ONE distinct-value row: the whole curve
    # is the single point (1, 1)
    rows = lorenz_curve(eq, "x", n_points=10, digits=9).collect()
    assert len(rows) == 1
    assert rows[0].pop_share == 1.0 and rows[0].value_share == 1.0
    # distinct uniform values: value_share < pop_share strictly inside
    uni = spark.createDataFrame([(float(i),) for i in range(1, 101)],
                                "x double")
    rows = sorted(lorenz_curve(uni, "x", n_points=10, digits=9).collect())
    assert rows[-1].pop_share == 1.0 and rows[-1].value_share == 1.0
    inner = [r for r in rows if r.pop_share < 1.0]
    assert inner and all(r.value_share < r.pop_share for r in inner)
    # python replica at each kept point
    tot = sum(range(1, 101))
    for r in rows:
        k = round(r.pop_share * 100)
        assert r.value_share == pytest.approx(
            sum(range(1, k + 1)) / tot, abs=1e-9)
    # all-zero total: no rows
    assert lorenz_curve(
        spark.createDataFrame([(0.0,)] * 5, "x double"), "x"
    ).collect() == []


def test_join_key_health_exact_cardinality(spark):
    from etdtransform_spark.operators.skew import join_key_health

    left = spark.createDataFrame(
        [(1,)] * 3 + [(2,)] * 2 + [(None,)] * 4 + [(9,)],
        "k bigint",
    )
    right = spark.createDataFrame(
        [(1,)] * 5 + [(2,)] * 1 + [(None,)] * 2 + [(7,)],
        "k bigint",
    )
    r = join_key_health(left, right, "k", "k").collect()[0]
    assert (r.n_left, r.n_right) == (10, 9)
    assert (r.null_left, r.null_right) == (4, 2)
    assert (r.distinct_left, r.distinct_right) == (3, 3)
    assert (r.max_mult_left, r.max_mult_right) == (3, 5)
    assert r.est_output_rows == 3 * 5 + 2 * 1  # = 17, the true inner size
    assert left.join(right, "k").count() == 17
    assert r.top_key_share == pytest.approx(15 / 17, abs=1e-6)
    assert r.amplification == pytest.approx(1.7, abs=1e-6)
    # disjoint keys -> 0 output, NULL ratios
    d = join_key_health(
        spark.createDataFrame([(1,)], "k bigint"),
        spark.createDataFrame([(2,)], "k bigint"), "k", "k",
    ).collect()[0]
    assert d.est_output_rows == 0 and d.top_key_share is None
    assert d.amplification == 0.0


# ---------------------------------------------------------------------------
# compaction + per-group weighted sampling
# ---------------------------------------------------------------------------

def test_compact_parquet_merges_small_files(spark, tmp_path):
    from etdtransform_spark.sources.parquet import (
        compact_parquet,
        compaction_audit,
    )

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(5000)], "k bigint, x double"
    )
    df.repartition(40).write.parquet(src)
    before = compaction_audit(spark, src).collect()[0]
    assert before.n_files == 40
    compact_parquet(spark, src, dst, target_mb=64)
    after = compaction_audit(spark, dst).collect()[0]
    assert after.n_files == 1  # tiny table folds to one file
    # content preserved exactly
    a = sorted(r.k for r in spark.read.parquet(dst).collect())
    assert a == list(range(5000))
    with pytest.raises(ValueError):
        compact_parquet(spark, src, dst, target_mb=0)


def test_weighted_stratified_sample_properties(spark):
    from etdtransform_spark.operators.sessions import (
        weighted_hash_sample,
        weighted_stratified_sample,
    )

    rows = [(i, f"g{i % 3}", float(i % 11) + 1.0) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, g string, w double")
    out = weighted_stratified_sample(df, "id", "w", ["g"], k=7,
                                     seed="wssample")
    got = out.collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r.g, []).append(r.id)
    assert set(by_g) == {"g0", "g1", "g2"}
    assert all(len(v) == 7 for v in by_g.values())
    # deterministic under repartition
    out2 = weighted_stratified_sample(
        df.repartition(9), "id", "w", ["g"], k=7, seed="wssample"
    ).collect()
    assert sorted((r.g, r.id) for r in got) == sorted(
        (r.g, r.id) for r in out2)
    # single group == the global top-k sampler restricted to that group
    one = df.filter("g = 'g0'")
    a = sorted(r.id for r in weighted_stratified_sample(
        one, "id", "w", ["g"], k=7, seed="s2").collect())
    b = sorted(r.id for r in weighted_hash_sample(
        one, "id", "w", k=7, seed="s2").collect())
    assert a == b
    # NULL weight / non-positive weight rows never sampled
    dirty = df.union(spark.createDataFrame(
        [(900, "g0", None), (901, "g0", 0.0), (902, "g0", -1.0)],
        "id bigint, g string, w double",
    ))
    ids = {r.id for r in weighted_stratified_sample(
        dirty, "id", "w", ["g"], k=100).collect()}
    assert {900, 901, 902}.isdisjoint(ids)


def test_ngram_overlap_scores_reference_cases(spark):
    from etdtransform_spark.operators.evaluation import ngram_overlap_scores

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "the cat sat on the mat"),
            (2, "the cat sat on the mat", "a cat sat on a mat"),
            (3, "the cat", "dog"),            # cand has 0 bigrams
            (4, None, "x y z"),                # no evidence: no row
            (5, "the the the the", "the the"),  # clipping
        ],
        "id bigint, ref string, cand string",
    )
    rows = {r.id: r for r in
            ngram_overlap_scores(df, "ref", "cand", "id", n=2,
                                 digits=9).collect()}
    assert set(rows) == {1, 2, 3, 5}
    assert rows[1].f1 == 1.0 and rows[1].overlap == 5
    # shared bigrams of row 2: "cat sat", "sat on" -> P=R=F1=0.4
    assert rows[2].overlap == 2
    assert rows[2].f1 == pytest.approx(0.4, abs=1e-9)
    # zero candidate grams: precision/f1 NULL (undefined), recall 0
    assert rows[3].precision is None and rows[3].f1 is None
    assert rows[3].recall == 0.0 and rows[3].cand_grams == 0
    # clipping: cand's one "the the" credits once against ref's three
    assert rows[5].overlap == 1
    assert rows[5].precision == 1.0
    assert rows[5].recall == pytest.approx(1 / 3, abs=1e-9)
    with pytest.raises(ValueError):
        ngram_overlap_scores(df, "ref", "cand", "id", n=0)


def test_aqe_splits_skewed_join(spark):
    """The runtime half of the skew story: skew.py's salting is the
    STATIC mitigation; this pins that AQE's OptimizeSkewedJoin actually
    fires in this engine's sessions (adaptive enabled by get_spark) —
    the final plan's SortMergeJoin carries skew=true and the job
    completes with the correct row count despite one key owning 5/6 of
    the left side."""
    import re

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 60000).select(
            F.when(F.col("id") < 50000, F.lit(0))
            .otherwise(F.col("id") % 37).alias("k"),
            F.concat(F.lit("payloadpayloadpayload_"), F.col("id"))
            .alias("pay"),
        )
        right = spark.range(0, 37).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 60000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"SortMergeJoin\(skew=true\)", plan)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_eval_pipeline_e2e_isotonic_reduces_ece(spark):
    """The composite eval chain's load-bearing outcome: re-scoring
    through the fitted isotonic map cannot worsen binned ECE (isotonic
    is the least-squares monotone fit on exactly that substrate), and
    the chain's interfaces line up end-to-end."""
    import __spark_entry__ as e

    row = e.q_eval_pipeline_e2e(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n > 0
    assert row.ece_raw is not None and row.ece_calibrated is not None
    assert row.ece_improved == 1
    assert row.ece_calibrated <= row.ece_raw
    assert 0.0 <= row.auc_calibrated <= 1.0 and 0.0 <= row.auc_raw <= 1.0
    # note: plateau pooling moves AUC TOWARD 0.5 locally — on a
    # locally anti-correlated region that is an INCREASE, so no
    # directional claim holds for AUC (only ECE carries a guarantee)
    assert abs(row.auc_calibrated - row.auc_raw) < 0.2


def test_msprt_always_valid_p_properties(spark):
    import math

    from etdtransform_spark.operators.stats import msprt_always_valid_p

    null_rows = [("a" if i % 2 else "b", float((i * 37) % 101))
                 for i in range(2000)]
    df0 = spark.createDataFrame(null_rows, "arm string, x double")
    r0 = msprt_always_valid_p(df0, "x", "arm", "a", "b", tau=5.0,
                              digits=9).collect()[0]
    assert r0.p_always_valid == 1.0 and r0.reject == 0
    # python replica of the closed form
    xs = {"a": [], "b": []}
    for arm, v in null_rows:
        xs[arm].append(v)
    na, nb = len(xs["a"]), len(xs["b"])
    ma = sum(xs["a"]) / na
    mb = sum(xs["b"]) / nb
    ss = sum((v - ma) ** 2 for v in xs["a"]) + sum(
        (v - mb) ** 2 for v in xs["b"])
    pooled = ss / (na + nb - 2)
    neff = 2 / (1 / na + 1 / nb)
    t2 = 25.0
    denom = 2 * pooled + neff * t2
    ll = 0.5 * math.log(2 * pooled / denom) + (
        neff * neff * t2 * (ma - mb) ** 2) / (4 * pooled * denom)
    assert r0.log_lambda == pytest.approx(ll, abs=1e-6)
    assert r0.p_always_valid == pytest.approx(min(1.0, math.exp(-ll)),
                                              abs=1e-6)
    # planted +10 effect: overwhelming evidence, p -> 0, reject
    eff = spark.createDataFrame(
        [("a", float((i * 37) % 101) + 10.0) for i in range(1000)]
        + [("b", float((i * 37) % 101)) for i in range(1000)],
        "arm string, x double",
    )
    r1 = msprt_always_valid_p(eff, "x", "arm", "a", "b", tau=5.0).collect()[0]
    assert r1.reject == 1 and r1.p_always_valid < 0.001
    # evidence grows with n: p is non-increasing when the same signal
    # accumulates (the always-valid martingale property, spot-checked)
    half = spark.createDataFrame(
        [("a", float((i * 37) % 101) + 10.0) for i in range(100)]
        + [("b", float((i * 37) % 101)) for i in range(100)],
        "arm string, x double",
    )
    rh = msprt_always_valid_p(half, "x", "arm", "a", "b",
                              tau=5.0).collect()[0]
    assert r1.p_always_valid <= rh.p_always_valid + 1e-12
    # degenerate: zero variance -> NULL p, never a rejection
    flat = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
        "arm string, x double",
    )
    rf = msprt_always_valid_p(flat, "x", "arm", "a", "b").collect()[0]
    assert rf.p_always_valid is None and rf.reject is None
    with pytest.raises(ValueError):
        msprt_always_valid_p(df0, "x", "arm", "a", "b", tau=0.0)
