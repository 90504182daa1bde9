"""Plan shape of ``impute_and_normalize``: the number of sorts and window
operators must not grow with the number of imputed columns, and no window
frame may run from the current row to unbounded following (Spark
evaluates that frame in O(n^2) per partition)."""

from __future__ import annotations

import datetime as dt
import re

from etdtransform_spark.operators.impute import impute_and_normalize

COLUMNS = ["A", "B", "C", "D"]
NODE = re.compile(r"^[\s+\-:|]*(?:\*\(\d+\) )?(Sort|Window) \[", re.M)
FORWARD_FRAME = re.compile(r"currentrow\$\(\), unboundedfollowing\$\(\)", re.I)


def _executed_plan(spark, cols: list[str]) -> str:
    t0 = dt.datetime(2023, 1, 1)
    rows = [
        (h, h % 2, t0 + dt.timedelta(minutes=5 * i),
         *[v for _c in COLUMNS for v in (float(i), None if i % 3 else 1.0)])
        for h in range(4) for i in range(6)
    ]
    schema = "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, " + ", ".join(
        f"{c} double, {c}Diff double" for c in COLUMNS
    )
    df = spark.createDataFrame(rows, schema)
    avg = spark.createDataFrame(
        [(p, t0 + dt.timedelta(minutes=5 * i), *[0.5] * len(COLUMNS))
         for p in range(2) for i in range(6)],
        "ProjectIdBSV long, ReadingDate timestamp, "
        + ", ".join(f"{c}Diff_avg double" for c in COLUMNS),
    )
    out = impute_and_normalize(df, cumulative_columns=cols, thresholds={}, avg_diffs=avg)
    return out._jdf.queryExecution().executedPlan().toString()


def test_sort_and_window_count_independent_of_columns(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plans = {n: _executed_plan(spark, COLUMNS[:n]) for n in (1, 2, 4)}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    counts = {
        n: (NODE.findall(p).count("Sort"), NODE.findall(p).count("Window"))
        for n, p in plans.items()
    }
    assert counts[1][0] > 0 and counts[1][1] > 0, counts
    assert counts[1] == counts[2] == counts[4], counts
    for n, p in plans.items():
        assert not FORWARD_FRAME.search(p), n
