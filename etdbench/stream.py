"""``stream_resample``: ``read_household_stream`` (one file per trigger) into
``streaming_resample("60min")``, ``availableNow``, fresh checkpoint, closed
loop of micro-batches.

The emitted buckets go to the in-memory sink, so the measured run's own
output is what gets checked: every emitted bucket must equal the batch
``operators.resample.resample`` over the same delivered rows, and the number
emitted must match the watermark of the last micro-batch the sink holds.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from etdtransform_spark.operators.resample import resample
from etdtransform_spark.streaming.resample_stream import (
    read_household_stream,
    streaming_resample,
)

from . import gen, harness

INTERVAL = "60min"
HOURS = 120  # delivery files
WARMUP_FILES = 8
MIN_BATCHES = 4
DURATIONS = {
    "stream.add_batch_s": "addBatch",
    "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
    "stream.latest_offset_s": "latestOffset",
    "stream.query_planning_s": "queryPlanning",
}
LAYER_METRICS = [(m, "s") for m in DURATIONS] + [
    ("stream.state_rows", "count"),
    ("stream.state_commit_s", "s"),
]


def _checkpoint(workdir: str, name: str) -> str:
    return os.path.join(workdir, f"checkpoint_{name}")


def _start(spark, source: str, workdir: str, name: str):
    schema = spark.read.parquet(source).schema
    stream = read_household_stream(spark, source, schema, max_files_per_trigger=1)
    checkpoint = _checkpoint(workdir, name)
    shutil.rmtree(checkpoint, ignore_errors=True)
    return (
        streaming_resample(stream, INTERVAL)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def setup(ctx) -> None:
    """Warm the JVM with a short stream over a copy of the first files, so
    the measured batches are steady-state ones."""
    warm = os.path.join(ctx.workdir, "warmup")
    os.makedirs(warm, exist_ok=True)
    for name in sorted(os.listdir(ctx.inputs.stream))[:WARMUP_FILES]:
        src = os.path.join(ctx.inputs.stream, name)
        shutil.copy2(src, os.path.join(warm, name))
    q = _start(ctx.spark, warm, ctx.workdir, "warmup")
    q.awaitTermination(120)
    q.stop()


def run(ctx) -> None:
    """Run until every file is consumed or ``ctx.seconds`` have passed and
    ``MIN_BATCHES`` micro-batches have completed (the watermark then has
    finalised buckets to check), then stop; only completed micro-batches
    count."""
    spark, inputs, tracer = ctx.spark, ctx.inputs, ctx.tracer
    with tracer.span("stream"):
        t0 = time.perf_counter()
        q = _start(spark, inputs.stream, ctx.workdir, "measured")
        while q.isActive and (
            time.perf_counter() - t0 < ctx.seconds
            or (q.lastProgress or {}).get("batchId", -1) < MIN_BATCHES - 1
        ):
            time.sleep(0.05)
        q.stop()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    if len(q.recentProgress) >= harness.PROGRESS_KEPT:
        raise RuntimeError("progress history truncated")
    batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    rows = sum(p["numInputRows"] for p in progress)
    ctx.attempted += len(progress)
    problems = check(spark, inputs, q, _checkpoint(ctx.workdir, "measured"))
    if problems:
        ctx.fail(problems)
    ctx.report_ops(batch_s, sum(batch_s), rows)
    ctx.named.update(
        batch_p50_s=(ctx.metrics["op_p50_s"], "s"),
        batch_p90_s=(ctx.op_p90_s, "s"),
        stream_rows_per_s=(ctx.metrics["rows_per_s"], "1/s"),
    )
    if tracer.enabled:
        n = max(len(progress), 1)
        layer = {
            m: sum(p["durationMs"].get(k, 0) for p in progress) / 1000.0 / n
            for m, k in DURATIONS.items()
        }
        ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
        layer["stream.state_rows"] = float(np.median([o["numRowsTotal"] for o in ops]))
        layer["stream.state_commit_s"] = (
            sum(o["commitTimeMs"] for o in ops) / 1000.0 / n
        )
        ctx.layer.update(layer)


def check(spark, inputs, q, checkpoint: str) -> list[str]:
    """Emitted buckets vs batch ``resample`` over the same rows; emitted
    count vs the closed form households x hours finished by the watermark
    of the last batch the sink committed."""
    emitted = spark.table(q.name).collect()
    wm_ms = _sink_watermark_ms(q, checkpoint)
    problems = []
    if wm_ms is not None:
        wm_t = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=wm_ms)
        hours = int((wm_t - gen.T0.astype(dt.datetime)).total_seconds() // 3600)
        want = len(inputs.houses) * max(hours, 0)
        if len(emitted) != want:
            problems.append(f"{len(emitted)} buckets emitted, expected {want}")
    if not emitted:
        return problems + ["no bucket emitted"]
    batch = resample(spark.read.parquet(inputs.stream), INTERVAL)
    last = max(r["ReadingDate"] for r in emitted)
    expected = {
        (r["HuisIdBSV"], r["ReadingDate"]): r
        for r in batch.filter(F.col("ReadingDate") <= F.lit(last)).collect()
    }
    cols = [c for c in emitted[0].asDict() if c not in ("ProjectIdBSV", "HuisIdBSV", "ReadingDate")]
    wrong = 0
    for r in emitted:
        e = expected.get((r["HuisIdBSV"], r["ReadingDate"]))
        if e is None or any(not _close(r[c], e[c]) for c in cols):
            wrong += 1
    if wrong:
        problems.append(f"{wrong} emitted buckets differ from batch resample")
    return problems


def _sink_watermark_ms(q, checkpoint: str) -> int | None:
    """Watermark of the last micro-batch the memory sink holds, read from
    the checkpoint's offset log. ``lastProgress`` is no substitute: a
    ``stop()`` that lands after the sink commit but before the progress
    report leaves it one batch behind the sink."""
    batch = q._jsq.streamingQuery().sink().latestBatchId()
    if batch.isEmpty():
        return None
    with open(os.path.join(checkpoint, "offsets", str(batch.get()))) as fh:
        return json.loads(fh.read().splitlines()[1])["batchWatermarkMs"]


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
