"""ETD engine benchmark.

    python3 etdbench/run.py --workload etl_pipeline --seed 1 --seconds 10 --trace 0

Generates seeded inputs, sets up, runs one workload for ``--seconds`` of
measured time, checks every output, and prints as its last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The lines before it name the environment and the
workload-specific figures. Workloads and metrics are described in
``etdbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("etl_pipeline", "analyst_read", "stream_resample")
GEN_REPEATS = 3


class Context:
    """Per-run state the workloads fill in."""

    def __init__(self, args, workdir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.workdir = workdir
        self.spark = self.inputs = self.tracer = None
        self.cores = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.files_written = 0
        self.op_count = 0
        self.op_p90_s = self.ops_per_s = 0.0

    def fail(self, problems: list[str]) -> None:
        self.failed += 1
        self.problems += problems

    def report_ops(self, times: list[float], measured: float, rows: int,
                   samples: list[float] | None = None) -> None:
        """Median of ``times`` and the rows per second over the measured
        time. The p90 and rate of the single operations (``samples``, default
        ``times``) are printed for reading only: with tens of operations
        per run, fewer than ten lie beyond the p90, so it is no gated
        metric."""
        if not times:
            raise RuntimeError("no operation completed")
        samples = samples or times
        self.metrics.update(op_p50_s=statistics.median(times), rows_per_s=rows / measured)
        self.op_p90_s = _percentile(samples, 0.9)
        self.ops_per_s = len(samples) / measured
        self.op_count = len(samples)


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--days", type=int, default=5,
                    help="days of 5-minute readings per household")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etdtransform_spark")):
        print(f"engine package etdtransform_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    from etdbench import analyst, etl, gen, harness, stream
    from etdbench.trace import Tracer

    workdir = os.path.join(ROOT, ".etdbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    ctx = Context(args, workdir)
    module = {"etl_pipeline": etl, "analyst_read": analyst, "stream_resample": stream}[
        args.workload
    ]
    steal0 = harness.steal_jiffies()
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = ctx.spark = harness.start_spark(workdir, ui=bool(args.trace))
        session_s = time.perf_counter() - t_setup
        gen_s = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            ctx.inputs = gen.generate(
                os.path.join(workdir, "inputs"), args.seed, days=args.days,
                stream_hours=min(stream.HOURS, 24 * args.days) if module is stream else 0,
            )
            gen_s.append(time.perf_counter() - t0)
        ctx.tracer = Tracer(spark, enabled=bool(args.trace))
        ctx.cores = harness.nproc()
        t0 = time.perf_counter()
        if hasattr(module, "setup"):
            module.setup(ctx)
        setup_s = session_s + statistics.median(gen_s) + (time.perf_counter() - t0)

        pid = harness.jvm_pid(spark)
        harness.reset_peak_rss(spark, pid)
        module.run(ctx)
        rss = harness.peak_rss_mb(pid)
        env = harness.environment(spark)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    env["steal_jiffies"] = harness.steal_jiffies() - steal0
    ctx.metrics.update(peak_rss_mb=rss, setup_s=setup_s)

    if args.trace:
        os.makedirs(os.path.join(ROOT, ".etdbench_out"), exist_ok=True)
        ctx.tracer.dump(os.path.join(
            ROOT, ".etdbench_out", f"trace-{args.workload}-{args.seed}.json"
        ))
        metrics = {name: 0.0 for name, _unit in layer_metric_units(etl, analyst, stream)}
        metrics.update(ctx.layer)
        metrics["trace.op_p50_s"] = ctx.metrics["op_p50_s"]
        units = dict(layer_metric_units(etl, analyst, stream))
    else:
        metrics = ctx.metrics
        units = E2E_UNITS
    ctx.named.update(
        peak_rss_mb=(rss, "MB"), setup_s=(setup_s, "s"),
        failed_ratio=(ctx.failed / max(ctx.attempted, 1), "ratio"),
    )
    print("environment " + json.dumps(env, sort_keys=True))
    print(f"{args.workload} ({ctx.op_count} operations measured): " + ", ".join(
        f"{k}={v:.6g} {u}" for k, (v, u) in ctx.named.items()
    ))
    for p in ctx.problems[:20]:
        print(f"check failed: {p}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


E2E_UNITS = {
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def layer_metric_units(etl, analyst, stream) -> list[tuple[str, str]]:
    """Every per-layer metric, in a fixed order; a run reports the layers its
    workload does not reach as 0."""
    return (
        [(m, "s") for m in etl.SPAN_METRICS]
        + etl.COUNT_METRICS
        + analyst.LAYER_METRICS
        + stream.LAYER_METRICS
        + [("trace.op_p50_s", "s")]
    )


if __name__ == "__main__":
    sys.exit(main())
