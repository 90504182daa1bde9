"""Randomized invariant test for the imputation engine: generated household
series with injected gap patterns must satisfy the reference's structural
guarantees regardless of where the gaps fall (the per-rule fixtures in
test_impute.py pin exact values; this pins the invariants on shapes no one
handpicked)."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from etdtransform_spark.operators.impute import (
    impute_and_normalize,
    imputation_gap_stats,
)

CUM = "Zon-opwekTotaal"
DIFF = f"{CUM}Diff"
T0 = dt.datetime(2023, 1, 1)


def _gen_households(seed: int, n_houses: int = 8, n_steps: int = 48):
    """Random monotone meters with random gap runs (leading, trailing,
    interior, adjacent, full-gap households all arise across seeds)."""
    rng = random.Random(seed)
    rows = []
    for h in range(1, n_houses + 1):
        project = 1 + h % 2
        level = rng.uniform(0, 10)
        cums = []
        for _i in range(n_steps):
            level += rng.choice([0.0, 0.1, 0.5, 1.0])
            cums.append(round(level, 3))
        # inject 0-4 gap runs of length 1-10
        mask = [False] * n_steps
        for _g in range(rng.randint(0, 4)):
            s = rng.randrange(n_steps)
            ln = rng.randint(1, 10)
            for j in range(s, min(s + ln, n_steps)):
                mask[j] = True
        prev = None
        for i in range(n_steps):
            ts = T0 + dt.timedelta(minutes=5 * i)
            if mask[i]:
                cum, diff = None, None
            else:
                cum = cums[i]
                diff = None if prev is None else round(cum - prev, 3)
                prev = cum
            rows.append((h, project, ts, cum, diff))
    return rows


def test_impute_invariants_random_gaps(spark):
    for seed in (7, 19, 83):
        rows = _gen_households(seed)
        df = spark.createDataFrame(
            rows,
            f"HuisIdBSV bigint, ProjectIdBSV bigint, ReadingDate timestamp, "
            f"`{CUM}` double, `{DIFF}` double",
        )
        impute_kwargs = dict(cumulative_columns=[CUM])
        imputed = impute_and_normalize(df, **impute_kwargs)
        gap_stats = imputation_gap_stats(imputed, [CUM])
        out = imputed.select(
            "HuisIdBSV",
            "ReadingDate",
            F.col(DIFF).alias("diff"),
            F.col(f"{DIFF}_is_imputed").alias("imp"),
            F.col(f"{DIFF}_impute_type").alias("ityp"),
            F.col(f"{CUM}Check").alias("check"),
            F.col(f"{CUM}").alias("cum"),
            F.col(f"{CUM}Original").alias("orig"),
        ).collect()

        was_null = {
            (r[0], r[2]): r[4] is None
            for r in rows
        }
        by_house: dict = {}
        for r in out:
            by_house.setdefault(r.HuisIdBSV, []).append(r)

        for h, rs in by_house.items():
            rs.sort(key=lambda r: r.ReadingDate)
            # (1) every originally-null diff (beyond each house's first row)
            #     is imputed with a nonzero type mask, and vice versa
            for i, r in enumerate(rs):
                originally_null = was_null[(h, r.ReadingDate)]
                if i == 0:
                    continue  # first diff is structurally null, not a gap
                if originally_null:
                    assert r.imp is True and r.ityp and r.ityp > 0, (seed, h, i)
                    assert r.diff is not None, (seed, h, i)
                else:
                    # a non-null diff may only be touched by the threshold
                    # clamp (values outside [Min, Max] replaced with the
                    # project average, flag THRESHOLD_ADJUSTED alone)
                    assert (not r.imp) or r.ityp == 128, (seed, h, i, r.ityp)
            # (2) no imputed diff is negative
            for r in rs[1:]:
                assert r.diff is None or r.diff >= 0 or not r.imp, (seed, h)
            # (3) cumulative rebuild: cum = first original value + running
            #     sum of imputed diffs -> Check (diff of cum-orig) must be
            #     ~0 wherever defined
            for r in rs:
                if r.check is not None:
                    assert abs(r.check) < 1e-6, (seed, h, r)

        # (4) gap stats account for every imputed row
        n_imputed = sum(1 for r in out if r.imp)
        stats_total = gap_stats.agg(
            F.sum("imputed").alias("s")
        ).collect()[0].s
        if stats_total is None:
            stats_total = 0
        assert stats_total >= 0
        if n_imputed:
            assert stats_total > 0
