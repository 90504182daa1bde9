"""``etl_pipeline``: combine + ``run_pipeline`` into a fresh folder, closed
loop, one pipeline at a time.

Traced runs wrap the module-level ``write_family``/``read_family`` names
that ``plans.pipeline`` calls, so every family sink and re-read becomes a
span; the engine's code is not edited.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import duckdb

import etdtransform_spark.plans.pipeline as pipeline_mod
from etdtransform_spark.config import INTERVALS
from etdtransform_spark.operators.impute import ImputeType
from etdtransform_spark.sources.parquet import (
    combine_household_files,
    family_path,
    read_index,
)

# family (or (family, interval)) -> span name == per-layer metric name
FAMILY_SPANS = {
    "household_default": "parquet.write_default_s",
    "household_diff_max_bounds": "impute.bounds_s",
    "avg_diffs": "impute.avg_diffs_s",
    "household_imputed": "impute.household_imputed_s",
    "impute_gap_stats": "impute.gap_stats_s",
    "impute_summary_household": "impute.summaries_s",
    "impute_summary_project": "impute.summaries_s",
    "household_aggregated_diff": "aggregate.aggregated_diff_s",
    "household_calculated": "calculated.s",
    **{("household", iv): f"resample.{iv}_s" for iv in INTERVALS},
    **{("project", iv): f"aggregate.project_{iv}_s" for iv in INTERVALS},
}
IMPUTE_SPANS = sorted({v for v in FAMILY_SPANS.values() if v.startswith("impute.")})
SPAN_METRICS = sorted(set(FAMILY_SPANS.values())) + [
    "parquet.combine_s",
    "parquet.read_family_s",
    "pipeline.self_s",
]
COUNT_METRICS = [
    ("impute.cpu_s", "s"),
    ("impute.shuffle_write_bytes", "bytes"),
    ("impute.spill_bytes", "bytes"),
    ("impute.rows_imputed_share", "ratio"),
    ("pipeline.jobs", "count"),
    ("pipeline.stages", "count"),
    ("pipeline.tasks", "count"),
    ("pipeline.input_scans", "ratio"),
    ("parquet.bytes_written", "bytes"),
    ("parquet.files_written", "count"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.cpu_util", "ratio"),
]
ALL_IMPUTE_TYPES = int(sum(ImputeType))


@contextmanager
def traced_sinks(tracer, scans: list[int]):
    """Swap ``plans.pipeline``'s sink/reader names for span-recording
    wrappers for the duration of the block. ``scans`` collects, per sink,
    how many physical scans of ``household_default`` its plan holds."""
    write, read = pipeline_mod.write_family, pipeline_mod.read_family
    # scan locations in plan strings are cut at this length otherwise
    tracer.spark.conf.set("spark.sql.maxMetadataStringLength", "100000")

    def write_family(df, base_folder, name, interval=None, **kw):
        key = name if interval is None else (name, interval)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans.append(plan.count("household_default.parquet]"))
        with tracer.span(FAMILY_SPANS[key]):
            return write(df, base_folder, name, interval=interval, **kw)

    def read_family(*args, **kw):
        with tracer.span("parquet.read_family_s"):
            return read(*args, **kw)

    pipeline_mod.write_family, pipeline_mod.read_family = write_family, read_family
    try:
        yield
    finally:
        pipeline_mod.write_family, pipeline_mod.read_family = write, read


def run_one(spark, inputs, out: str, tracer) -> float:
    """One combine + run_pipeline into ``out``; returns wall seconds."""
    t0 = time.perf_counter()
    with tracer.span("pipeline"):
        with tracer.span("parquet.combine_s"):
            index = read_index(spark, inputs.mapped)
            households = combine_household_files(spark, inputs.mapped, index)
        pipeline_mod.run_pipeline(
            spark, households, out, cumulative_columns=inputs.imputed_columns
        )
    return time.perf_counter() - t0


def _scan(out: str, name: str, interval: str | None = None) -> str:
    path = family_path(out, name, interval)
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def check_outputs(inputs, out: str) -> tuple[list[str], float]:
    """DuckDB checks over the written families. Returns (problems, share of
    household_imputed rows with at least one imputed diff)."""
    problems = []
    con = duckdb.connect()
    try:
        for (name, iv), want in inputs.family_rows().items():
            got = con.execute(f"SELECT count(*) FROM {_scan(out, name, iv)}").fetchone()[0]
            if got != want:
                problems.append(f"{name} {iv}: {got} rows, expected {want}")
        imputed = _scan(out, "household_imputed")
        bad_house, bad_col = inputs.all_na
        for col in inputs.imputed_columns:
            nulls = con.execute(
                f'SELECT count(*) FROM {imputed} WHERE "{col}Diff" IS NULL '
                f"AND NOT (HuisIdBSV = {bad_house} AND '{col}' = '{bad_col}')"
            ).fetchone()[0]
            if nulls:
                problems.append(f"{col}Diff: {nulls} NULL diffs after imputation")
        for name in ("household_default", "household_imputed", "household_calculated"):
            n = con.execute(
                f"SELECT count(*) FROM {_scan(out, name)} "
                f"WHERE HuisIdBSV = {inputs.excluded_house}"
            ).fetchone()[0]
            if n:
                problems.append(f"{name}: Meenemen=false household present ({n} rows)")
        mask = con.execute(
            f"SELECT bit_or(bitwise_methods) FROM {_scan(out, 'impute_gap_stats')}"
        ).fetchone()[0]
        if mask != ALL_IMPUTE_TYPES:
            problems.append(f"impute types reached {mask}, expected {ALL_IMPUTE_TYPES}")
        any_imputed = " OR ".join(
            f'coalesce("{c}Diff_is_imputed", false)' for c in inputs.imputed_columns
        )
        share = con.execute(
            f"SELECT avg(CASE WHEN {any_imputed} THEN 1.0 ELSE 0.0 END) FROM {imputed}"
        ).fetchone()[0]
    finally:
        con.close()
    return problems, float(share)


def _files_written(out: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(out)
        for f in files
        if f.endswith(".parquet")
    )


def run(ctx) -> None:
    """Closed loop: pipelines back to back until ``ctx.seconds`` of
    measured time have passed (at least one)."""
    spark, inputs, tracer = ctx.spark, ctx.inputs, ctx.tracer
    scans: list[int] = []
    times, shares = [], []
    measured = 0.0
    k = 0
    while True:
        out = os.path.join(ctx.workdir, f"out{k}")
        if tracer.enabled:
            with traced_sinks(tracer, scans):
                dt = run_one(spark, inputs, out, tracer)
        else:
            dt = run_one(spark, inputs, out, tracer)
        measured += dt
        times.append(dt)
        ctx.attempted += 1
        try:
            problems, share = check_outputs(inputs, out)
        except duckdb.Error as exc:
            problems, share = [f"output unreadable: {exc}"], 0.0
        shares.append(share)
        if problems:
            ctx.fail(problems)
        if k == 0:
            ctx.files_written = _files_written(out)
        shutil.rmtree(out, ignore_errors=True)
        k += 1
        if measured >= ctx.seconds:
            break
    rows = len(inputs.houses) * inputs.steps
    ctx.report_ops(times, measured, rows)
    ctx.named.update(
        pipeline_s=(statistics.median(times), "s"),
        pipeline_rows_per_s=(rows / statistics.median(times), "1/s"),
    )
    if tracer.enabled:
        ctx.layer.update(layer_metrics(ctx, scans, len(times), statistics.median(shares)))


def layer_metrics(ctx, scans: list[int], runs: int, share: float) -> dict:
    """Per-layer figures, averaged per pipeline run."""
    tracer = ctx.tracer
    tracer.attach_stage_metrics()
    pipes = [s for s in tracer.spans if s.name == "pipeline"]
    out = {m: 0.0 for m in SPAN_METRICS}
    for p in pipes:
        for c in tracer.children(p):
            out[c.name] = out.get(c.name, 0.0) + c.duration / runs
        out["pipeline.self_s"] += tracer.self_time(p) / runs

    def total(key, names=None):
        return sum(
            tracer.total(p, key) if names is None else sum(
                c.counts.get(key, 0) for c in tracer.children(p) if c.name in names
            )
            for p in pipes
        ) / runs

    wall = sum(p.duration for p in pipes) / runs
    cpu_s = total("executorCpuTime") / 1e9
    out.update({
        "impute.cpu_s": total("executorCpuTime", IMPUTE_SPANS) / 1e9,
        "impute.shuffle_write_bytes": total("shuffleWriteBytes", IMPUTE_SPANS),
        "impute.spill_bytes": total("diskBytesSpilled", IMPUTE_SPANS),
        "impute.rows_imputed_share": share,
        "pipeline.jobs": total("jobs"),
        "pipeline.stages": total("stages"),
        "pipeline.tasks": total("numCompleteTasks"),
        "pipeline.input_scans": sum(scans) / runs,
        "parquet.bytes_written": total("outputBytes"),
        "parquet.files_written": float(ctx.files_written),
        "spark.executor_cpu_s": cpu_s,
        "spark.gc_s": total("jvmGcTime") / 1e3,
        "spark.cpu_util": cpu_s / (wall * ctx.cores),
    })
    return out
