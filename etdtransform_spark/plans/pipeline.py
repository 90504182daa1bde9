"""End-to-end ETL pipeline orchestration.

Mirrors the reference's stage chain (README.md:157-297, SURVEY §3A) with the
same Parquet checkpoint-by-file contract, so each stage stays independently
runnable/testable:

    combine -> avg-diff prep -> impute+normalize -> calculated columns
            -> resample (5min..24h) -> project aggregation

Within a stage everything is one lazy DAG; between stages we write/read
partitioned Parquet. Stage sinks partition by ProjectIdBSV so downstream
project-level aggregations get partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import (
    CUMULATIVE_COLUMNS,
    IMPUTE_CUMULATIVE_COLUMNS,
    INTERVALS,
    get_diff_columns,
)
from ..operators.aggregate import aggregate_project_data
from ..operators.calculated import add_calculated_columns
from ..operators.impute import (
    calculate_average_diff,
    household_diff_max_bounds,
    impute_and_normalize,
    imputation_gap_stats,
    imputation_summaries,
)
from ..operators.resample import resample
from ..sources.parquet import family_path, is_committed, read_family, write_family


def run_pipeline(
    spark: SparkSession,
    household_df: DataFrame,
    output_folder: str,
    cumulative_columns: list[str] | None = None,
    intervals: list[str] | None = None,
    skip_existing: bool = False,
) -> dict[str, str]:
    """Run the full chain from a combined household DataFrame; returns the
    map of family name -> written path.

    Every family is written, then read back for the stages after it, so
    each stage reads its inputs from disk: gap stats and the imputation
    summaries read the written ``household_imputed`` family, and the impute
    plan runs once.

    ``skip_existing`` is the distributed twin of the reference's
    ``sorted=``/``diffs_calculated=`` skip flags (impute.py:587-637) made
    structural: a family whose sink already holds a committed write (Spark's
    ``_SUCCESS`` marker) is read back instead of recomputed, so an
    interrupted run resumes from its last completed stage. A half-written
    sink has no marker and is safely overwritten. Each family is checked on
    its own: a lost marker recomputes that family from its (read-back)
    inputs and nothing upstream of it."""
    os.makedirs(output_folder, exist_ok=True)
    written: dict[str, str] = {}

    def materialize(base_name, build, interval=None, partition_by=None):
        """Write-or-skip one family; ``build`` is lazy so a skipped stage
        never constructs its plan."""
        key = base_name if interval is None else f"{base_name}_{interval}"
        path = family_path(output_folder, base_name, interval)
        if skip_existing and is_committed(path):
            written[key] = path
        else:
            written[key] = write_family(
                build(), output_folder, base_name,
                interval=interval, partition_by=partition_by,
            )
        return read_family(spark, output_folder, base_name, interval=interval)

    cum_cols = cumulative_columns or [
        c for c in IMPUTE_CUMULATIVE_COLUMNS if c in household_df.columns
    ]
    diff_cols = get_diff_columns(cum_cols)
    # the project-mean-of-diffs stage averages EVERY registry diff column
    # present, not just the imputed ones (reference aggregate.py:163 uses the
    # full etdmap cumulative list)
    all_diff_cols = diff_cols + [
        get_diff_columns([c])[0]
        for c in CUMULATIVE_COLUMNS
        if c not in cum_cols and get_diff_columns([c])[0] in household_df.columns
    ]

    household_df = materialize(
        "household_default", lambda: household_df, partition_by=["ProjectIdBSV"],
    )

    # stage: avg-diff preparation (impute.py:469-537)
    bounds = materialize(
        "household_diff_max_bounds",
        lambda: household_diff_max_bounds(household_df, diff_cols),
    )
    avg_diffs = materialize(
        "avg_diffs",
        lambda: calculate_average_diff(household_df, diff_cols, max_bounds=bounds),
    )

    # stage: imputation + normalization (impute.py:564-768)
    imputed = materialize(
        "household_imputed",
        lambda: impute_and_normalize(household_df, cum_cols, avg_diffs=avg_diffs),
        partition_by=["ProjectIdBSV"],
    )
    gap_stats = materialize(
        "impute_gap_stats", lambda: imputation_gap_stats(imputed, cum_cols)
    )
    materialize(
        "impute_summary_household",
        lambda: imputation_summaries(gap_stats, imputed)[0],
    )
    materialize(
        "impute_summary_project",
        lambda: imputation_summaries(gap_stats, imputed)[1],
    )

    # stage: project-mean of diffs (aggregate.py:190-194)
    materialize(
        "household_aggregated_diff",
        lambda: imputed.groupBy("ProjectIdBSV", "ReadingDate").agg(
            *[F.avg(c).alias(c) for c in all_diff_cols]
        ),
    )

    # stage: calculated columns (calculated_columns.py:9-139)
    calculated = materialize(
        "household_calculated",
        lambda: add_calculated_columns(imputed),
        partition_by=["ProjectIdBSV"],
    )

    # stage: resample matrix + project aggregation (aggregate.py:356-539)
    for iv in intervals or INTERVALS:
        hh_iv = materialize(
            "household", lambda iv=iv: resample(calculated, iv), interval=iv,
        )
        materialize(
            "project",
            lambda hh_iv=hh_iv: aggregate_project_data(hh_iv), interval=iv,
        )
    return written
