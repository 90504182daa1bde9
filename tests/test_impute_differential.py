"""Differential test of ``impute_and_normalize`` against a plain-Python,
per-household rendering of the reference rule chain
(vectorized_impute.py:343-748 + aggregate.py:199-211).

Random household layouts hold leading, trailing, interior and adjacent
gaps, cumulative values inside gaps (some negative), an all-NA household
and diffs at and beyond the clamp bounds. Two imputed columns share the
frame, each with its own gaps. Masks and types must match exactly; values
within 1e-12.
"""

from __future__ import annotations

import datetime as dt
import math
import random

import pytest
from etdtransform_spark.operators.impute import ImputeType, impute_and_normalize

EPS = 1e-8
T0 = dt.datetime(2023, 1, 1)
COLUMNS = ["A", "B"]
THRESHOLDS = {"ADiff": {"Min": 0.0, "Max": 2.0}, "BDiff": {"Min": -0.5, "Max": 3.0}}
N_PROJECTS = 3


def _ts(i: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=5 * i)


def _series(rng: random.Random, n: int, bounds: dict[str, float]):
    """One column of one household: (cumulative, diff) lists of length n."""
    level = rng.uniform(0, 5)
    cum, diff = [], []
    for i in range(n):
        roll = rng.random()
        if roll < 0.08:
            level = rng.uniform(0, 1)  # meter reset -> negative jump
        elif roll < 0.25:
            pass  # flat -> near-zero jump
        else:
            level += rng.choice([0.25, 0.5, 1.0, bounds["Max"], bounds["Max"] + 0.5])
        cum.append(round(level, 3))
        diff.append(None if i == 0 else round(cum[i] - cum[i - 1], 3))
    # diffs exactly at and just beyond the clamp bounds
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            diff[i] = bounds["Min"]
        elif r < 0.1:
            diff[i] = bounds["Max"]
        elif r < 0.13:
            diff[i] = bounds["Min"] - 0.25
    # gap runs: leading, trailing and interior, some back to back
    for _ in range(rng.randint(0, 4)):
        kind = rng.choice(["lead", "trail", "mid", "mid"])
        ln = rng.randint(1, max(1, n // 3))
        s = {"lead": 0, "trail": max(0, n - ln)}.get(kind, rng.randrange(n))
        for j in range(s, min(s + ln, n)):
            diff[j] = None
            r = rng.random()
            if r < 0.15:
                continue  # cumulative value visible mid-gap
            if r < 0.2:
                cum[j] = 0.0  # a gap ending at zero
            elif r < 0.27:
                cum[j] = -round(rng.uniform(0.1, 3), 3)
            else:
                cum[j] = None
    return cum, diff


def _layout(seed: int):
    rng = random.Random(seed)
    houses = []
    for h in range(1, 21):
        n = rng.randint(1, 30)
        cols = {c: _series(rng, n, THRESHOLDS[f"{c}Diff"]) for c in COLUMNS}
        houses.append((h, h % N_PROJECTS, n, cols))
    # an all-NA household (both columns), and one with column A all NA
    houses.append((90, 0, 6, {c: ([None] * 6, [None] * 6) for c in COLUMNS}))
    houses.append((91, 1, 8, {"A": ([None] * 8, [None] * 8),
                              "B": _series(rng, 8, THRESHOLDS["BDiff"])}))
    n_max = max(n for _h, _p, n, _c in houses)
    avg = {}
    for p in range(N_PROJECTS):
        for i in range(n_max):
            for c in COLUMNS:
                if p == 0 and c == "A":
                    v = 0.0  # no project signal -> linear fill
                elif rng.random() < 0.15:
                    v = None
                else:
                    v = round(rng.uniform(0, 1.5), 3)
                avg[(p, i, c)] = v
    return houses, avg, n_max


def _qround10(x: float) -> float:
    return math.floor(x * 1e10 + 0.5) / 1e10


def _impute_house(cum, d, a, th):
    """One household's column through the rule chain; per row
    (diff, old_diff, is_imputed, impute_type)."""
    n = len(d)
    iv = [0.0 if v is None else v for v in a]
    comparable = [a[i] is not None and d[i] is not None and d[i] >= 0 for i in range(n)]
    sum_a = sum(a[i] for i in range(n) if comparable[i])
    sum_d = sum(d[i] for i in range(n) if comparable[i])
    n_comp = sum(comparable)
    raw = sum_a / sum_d if sum_d != 0.0 else None
    factor = 1.0 if n_comp <= n / 2 else (1.0 if raw is None else raw)

    value, rule = [None] * n, [None] * n
    i = 0
    while i < n:
        if d[i] is not None:
            i += 1
            continue
        s = i  # a group ends at the last NA row or at a visible cumulative
        while cum[i] is None and i + 1 < n and d[i + 1] is None:
            i += 1
        e = i
        i += 1
        prev = cum[s - 1] if s > 0 and cum[s - 1] is not None and cum[s - 1] >= 0 else None
        end_raw = next((cum[j] for j in range(e, s - 1, -1) if cum[j] is not None), None)
        end = end_raw if end_raw is not None and end_raw >= 0 else None
        jump = end - prev if end is not None and prev is not None else None
        ijump = math.fsum(iv[s:e + 1])
        for j in range(s, e + 1):
            if jump is not None:
                if jump < 0:
                    rule[j], value[j] = ImputeType.NEGATIVE_GAP_JUMP, 0.0
                elif jump < EPS:
                    rule[j], value[j] = ImputeType.NEAR_ZERO_GAP_JUMP, 0.0
                elif ijump < EPS:
                    rule[j], value[j] = ImputeType.LINEAR_FILL, _qround10(jump / (e - s + 1))
                else:
                    rule[j], value[j] = ImputeType.SCALED_FILL, _qround10(iv[j] * (jump / ijump))
            elif end is not None and prev is None:
                if end < EPS:
                    rule[j], value[j] = ImputeType.ZERO_END_VALUE, 0.0
                else:
                    rule[j], value[j] = ImputeType.POSITIVE_END_VALUE, iv[j]
            elif end is None and prev is not None:
                rule[j], value[j] = ImputeType.NO_END_VALUE, iv[j] * factor
    out = []
    for j in range(n):
        new = value[j] if value[j] is not None else d[j]
        typ = None if rule[j] is None else int(rule[j])
        imp = rule[j] is not None
        if new is not None and (new < th["Min"] or new > th["Max"]):
            typ = (typ or 0) | int(ImputeType.THRESHOLD_ADJUSTED)
            imp, new = True, a[j]
        out.append((new, d[j], imp, typ))
    return out


def _normalize(cum, new):
    """(normalized cumulative, Original, Check) per row."""
    run, norm = None, []
    for v in new:
        if v is not None:
            run = v if run is None else run + v
        norm.append(run if v is not None else None)
    check = [None]
    for j in range(1, len(new)):
        parts = (norm[j], cum[j], norm[j - 1], cum[j - 1])
        check.append(
            None if any(p is None for p in parts)
            else (norm[j] - cum[j]) - (norm[j - 1] - cum[j - 1])
        )
    return list(zip(norm, cum, check))


def _expected(houses, avg):
    exp = {}
    for h, p, n, cols in houses:
        for c, (cum, d) in cols.items():
            a = [avg[(p, i, c)] for i in range(n)]
            imputed = _impute_house(cum, d, a, THRESHOLDS[f"{c}Diff"])
            norm = _normalize(cum, [r[0] for r in imputed])
            for i in range(n):
                exp[(h, i, c)] = imputed[i] + norm[i]
    return exp


def _close(got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return abs(got - want) <= 1e-12 * max(1.0, abs(want))


@pytest.mark.parametrize("seed", [3, 17, 30, 38])
def test_impute_matches_python_rule_chain(spark, seed):
    houses, avg, n_max = _layout(seed)
    rows = []
    for h, p, n, cols in houses:
        for i in range(n):
            rows.append((h, p, _ts(i), *[v for c in COLUMNS for v in (cols[c][0][i], cols[c][1][i])]))
    df = spark.createDataFrame(
        rows,
        "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, "
        "A double, ADiff double, B double, BDiff double",
    )
    avg_diffs = spark.createDataFrame(
        [(p, _ts(i), avg[(p, i, "A")], avg[(p, i, "B")])
         for p in range(N_PROJECTS) for i in range(n_max)],
        "ProjectIdBSV long, ReadingDate timestamp, ADiff_avg double, BDiff_avg double",
    )
    out = impute_and_normalize(
        df, cumulative_columns=COLUMNS, thresholds=THRESHOLDS, avg_diffs=avg_diffs
    )
    types = dict(out.dtypes)
    for c in COLUMNS:
        assert types[f"{c}Diff"] == "double"
        assert types[f"{c}OldDiff"] == "double"
        assert types[f"{c}Diff_is_imputed"] == "boolean"
        assert types[f"{c}Diff_impute_type"] == "bigint"

    exp = _expected(houses, avg)
    step = {_ts(i): i for i in range(n_max)}
    got_rows = out.collect()
    assert len(got_rows) == len(rows)
    seen_types = 0
    for r in got_rows:
        i = step[r["ReadingDate"]]
        for c in COLUMNS:
            new, old, imp, typ, norm, orig, check = exp[(r["HuisIdBSV"], i, c)]
            key = (seed, r["HuisIdBSV"], i, c)
            assert r[f"{c}Diff_is_imputed"] is imp, key
            assert r[f"{c}Diff_impute_type"] == typ, key
            assert r[f"{c}OldDiff"] == old, key
            assert _close(r[f"{c}Diff"], new), (key, r[f"{c}Diff"], new)
            assert _close(r[c], norm), (key, r[c], norm)
            assert r[f"{c}Original"] == orig, key
            assert _close(r[f"{c}Check"], check), (key, r[f"{c}Check"], check)
            seen_types |= typ or 0
    # the layouts reach every rule and the clamp
    assert seen_types == int(sum(ImputeType)), (seed, seen_types)
