"""Drive the ACTUAL reference pipeline from /root/reference on a fixture.

Bootstraps sys.path with the etdmap/ibis shims plus the reference
checkout, then replays the reference's own golden workflow
(tests/test_total_imputation_workflow.py:24-152) step for step:

    update_meenemen -> aggregate_hh_data_5min -> read_hh_data
    -> prepare_diffs_for_impute -> impute_hh_data_5min
    -> add_calculated_columns_to_hh_data
    -> resample_hh_data + aggregate_project_data per interval

The reference code itself is never copied — it executes in place
(read-only) against the synthetic mapped folder, writing its family
parquets into ``aggregate_dir`` exactly as it would in production.
"""

from __future__ import annotations

import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
SHIMS = os.path.join(_HERE, "shims")
REFERENCE = "/root/reference"

CUM_COLS_10 = [  # the golden workflow's imputation list (reference test:40-51)
    "ElektriciteitsgebruikBooster",
    "ElektriciteitsgebruikBoilervat",
    "ElektriciteitsgebruikWTW",
    "ElektriciteitsgebruikRadiator",
    "Zon-opwekTotaal",
    "ElektriciteitsgebruikWarmtepomp",
    "ElektriciteitTerugleveringLaag",
    "ElektriciteitTerugleveringHoog",
    "ElektriciteitNetgebruikLaag",
    "ElektriciteitNetgebruikHoog",
]

INTERVALS = ["5min", "15min", "60min", "6h", "24h"]


def _bootstrap():
    for p in (REFERENCE, SHIMS):
        if p not in sys.path:
            sys.path.insert(0, p)


def run_reference_pipeline(mapped_dir: str, aggregate_dir: str) -> None:
    """Execute the reference chain; families land in ``aggregate_dir``."""
    _bootstrap()
    import etdmap

    import etdtransform

    os.makedirs(aggregate_dir, exist_ok=True)
    etdmap.options.mapped_folder_path = mapped_dir
    etdtransform.options.mapped_folder_path = mapped_dir
    etdtransform.options.aggregate_folder_path = aggregate_dir

    from etdtransform.aggregate import (
        add_calculated_columns_to_hh_data,
        aggregate_hh_data_5min,
        aggregate_project_data,
        impute_hh_data_5min,
        read_hh_data,
        resample_hh_data,
    )
    from etdtransform.impute import prepare_diffs_for_impute

    # golden workflow, step for step
    aggregate_hh_data_5min()
    df = read_hh_data(interval="default", metadata_columns=["Dataleverancier"])
    prepare_diffs_for_impute(
        df,
        project_id_column="ProjectIdBSV",
        cumulative_columns=CUM_COLS_10,
        sorted=False,
    )
    df_imputed = impute_hh_data_5min(
        df, cum_cols=CUM_COLS_10, sorted=True, diffs_calculated=True
    )
    add_calculated_columns_to_hh_data(df_imputed)
    resample_hh_data(intervals=["5min"])
    aggregate_project_data(intervals=["5min"])
    resample_hh_data(intervals=["60min", "15min"])
    aggregate_project_data(intervals=["60min", "15min"])
    resample_hh_data(intervals=["24h"])
    aggregate_project_data(intervals=["24h"])
    resample_hh_data(intervals=["6h"])
    aggregate_project_data(intervals=["6h"])


def run_spark_pipeline(spark, mapped_dir: str, out_dir: str) -> dict[str, str]:
    """Run etdtransform_spark's pipeline on the same mapped folder."""
    from pyspark.sql import functions as F

    from etdtransform_spark.plans.pipeline import run_pipeline
    from etdtransform_spark.sources.parquet import (
        combine_household_files,
        read_index,
    )

    index_df = read_index(spark, mapped_dir)
    hh = combine_household_files(spark, mapped_dir, index_df)
    # the golden workflow loads Dataleverancier as a metadata column
    # (reference test:71); it rides through imputed/calculated untouched
    hh = hh.join(
        F.broadcast(index_df.select("HuisIdBSV", "Dataleverancier")),
        "HuisIdBSV",
        "left",
    )
    return run_pipeline(
        spark, hh, out_dir, cumulative_columns=CUM_COLS_10, intervals=INTERVALS
    )


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(_HERE)))
    from tests.ref_parity.fixture import write_mapped_folder

    base = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="refpar_")
    mapped = os.path.join(base, "mapped")
    agg = os.path.join(base, "ref_out")
    write_mapped_folder(mapped)
    run_reference_pipeline(mapped, agg)
    print("reference families written to", agg)
    for f in sorted(os.listdir(agg)):
        print("  ", f)
