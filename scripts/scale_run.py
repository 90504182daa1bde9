"""Scale stress run: the full ETL pipeline on a synthetic ETD-year.

Generates N households x 1 calendar year at 5-minute cadence (105,120 rows
per household — the reference's golden-corpus shape) entirely distributed
(spark.range, no driver materialization), then runs the complete
run_pipeline chain (combine -> bounds -> avg diffs -> impute -> calculated
-> resample 15min/60min/24h -> project aggregation) and prints stage-level
wall clock plus output row counts.

Reference baseline for the same shape: 10 households (1.05M rows) is the
golden corpus; ~300 households needs >25 GB RAM in pandas for the combine
step alone (reference README.md:167). Here memory stays bounded by
partitioning: per-household windows + project-partitioned sinks.

Usage: python scripts/scale_run.py [n_households] [out_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etdtransform_spark.plans.pipeline import run_pipeline  # noqa: E402
from etdtransform_spark.session import get_spark  # noqa: E402
from etdtransform_spark.sources.parquet import read_family  # noqa: E402

STEPS = 105_120  # one year at 5 minutes
CUM_COLS = [
    "ElektriciteitNetgebruikLaag",
    "ElektriciteitNetgebruikHoog",
    "ElektriciteitTerugleveringLaag",
    "Zon-opwekTotaal",
    "ElektriciteitsgebruikWarmtepomp",
    "Gasgebruik",
]


def synth(spark, n_households: int):
    """Distributed generator: deterministic increments, a mid-year gap in
    every third household, 10 households per project."""
    base = spark.range(n_households * STEPS).select(
        (F.col("id") / STEPS).cast("long").alias("HuisIdBSV"),
        (F.col("id") % STEPS).alias("i"),
    )
    base = base.withColumns(
        {
            "ProjectIdBSV": (F.col("HuisIdBSV") / 10).cast("long"),
            "ReadingDate": F.to_timestamp(F.lit("2023-01-01"))
            + F.col("i") * F.expr("INTERVAL 5 MINUTES"),
            "_gap": (F.col("HuisIdBSV") % 3 == 0)
            & (F.col("i") >= 50_000)
            & (F.col("i") < 50_200),
        }
    )
    cols = {}
    w = None
    from pyspark.sql import Window

    w = (
        Window.partitionBy("HuisIdBSV")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for k, c in enumerate(CUM_COLS):
        inc = 0.01 * ((F.col("i") + F.col("HuisIdBSV") + F.lit(k)) % 5).cast("double")
        cum = F.round(F.sum(inc).over(w), 10)
        cols[c] = F.when(~F.col("_gap"), cum)
        cols[f"{c}Diff"] = F.when(~F.col("_gap") & (F.col("i") > 0), inc)
    return base.withColumns(cols).drop("i", "_gap")


def main() -> None:
    n_households = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="etd_scale_")
    spark = get_spark("etd-scale-run")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    df = synth(spark, n_households)
    written = run_pipeline(
        spark, df, out_dir, cumulative_columns=CUM_COLS,
        intervals=["15min", "60min", "24h"],
    )
    total = time.perf_counter() - t0

    rows_in = n_households * STEPS
    imputed = read_family(spark, out_dir, "household_imputed")
    p60 = read_family(spark, out_dir, "project", "60min")
    print(
        f"households={n_households} rows_in={rows_in:,} "
        f"families={len(written)} total_wall={total:.1f}s "
        f"rows/s={rows_in / total:,.0f}"
    )
    print(f"imputed rows: {imputed.count():,}  project_60min rows: {p60.count():,}")
    n_imputed = imputed.filter(F.col(f"{CUM_COLS[0]}Diff_is_imputed")).count()
    print(f"imputed flags on {CUM_COLS[0]}Diff: {n_imputed:,}")
    if out_dir.startswith(tempfile.gettempdir()):
        shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
