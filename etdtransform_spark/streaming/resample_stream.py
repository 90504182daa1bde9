"""Structured Streaming variant of the resample operator.

The reference is batch-only (SURVEY §2.9); its resample is the batch analogue
of a tumbling-window aggregation, so the streaming form is a near-free
extension: readStream over the same partitioned Parquet layout, a watermark,
then the batch ``resample`` itself (same min-count gates, same 5min
pass-through), emitted through an append-mode sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.resample import resample


def streaming_resample(
    stream_df: DataFrame,
    interval: str,
    group_cols: list[str] | None = None,
    variables: dict[str, str] | None = None,
    reading_date: str = "ReadingDate",
    watermark: str = "1 hour",
) -> DataFrame:
    """Batch :func:`resample` over a watermarked stream.

    Late data within the watermark still lands in its bucket; buckets finalize
    (and become emittable in append mode) once the watermark passes. Note the
    engine's eviction lags one micro-batch: a late row arriving in the same
    batch where its bucket's watermark deadline passes is still aggregated
    (the bucket finalizes WITH it); only rows arriving after finalization are
    dropped — append emits each bucket exactly once either way (tested in
    test_cdc_sinks). At 5min, as in batch, rows pass through unaggregated.
    """
    return resample(
        stream_df.withWatermark(reading_date, watermark),
        interval,
        group_cols,
        variables,
        reading_date,
    )


def read_household_stream(
    spark,
    path: str,
    schema,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """File-source stream over a household Parquet directory — the incremental
    ingestion mode for continuously arriving meter files."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
