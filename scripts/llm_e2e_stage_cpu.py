"""Stage-level executor-CPU decomposition of the llm_pipeline_e2e composite.

Runs each stage of the chain at $SPARK_GRAFT_SF_DIR (default sf0.1) with an
eager materialization per stage, reading the executor CPU-time metric before
and after, so the composite's registry CPU line (VERDICT r12: 38.0 s, the
registry's top entry) can be attributed to its stages before optimizing.

Usage: python scripts/llm_e2e_stage_cpu.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def executor_cpu_ns(spark) -> int:
    """Cumulative executor-thread CPU ns across completed stages — the same
    steal-independent metric bench.py records, but with a listener-bus
    drain first: stage completion posts ASYNCHRONOUSLY, so reading the
    endpoint immediately after an action attributes the tail of a heavy
    stage to the NEXT measurement window (observed: the same composite
    read 37 s undrained, 62 s drained)."""
    time.sleep(2.0)
    url = (
        f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
        f"{spark.sparkContext.applicationId}/stages?status=complete"
    )
    try:
        with urllib.request.urlopen(url, timeout=10) as resp:
            stages = json.load(resp)
        return sum(s.get("executorCpuTime", 0) for s in stages)
    except Exception:
        return -1


def main() -> None:
    # the engine's OWN session factory, so every engine-critical conf
    # (notably the shuffle-writer pin, e94c79f) stays in lockstep with
    # get_spark() instead of being a hand-copied literal that can silently
    # desynchronize the measurement tool (ADVICE r13). The UI must be on to
    # read the executor-CPU endpoint.
    from etdtransform_spark.session import get_spark

    spark = get_spark(
        "llm-e2e-stage-cpu",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "200000",
            "spark.appStateStore.asyncTracking.enable": "false",
        },
    )
    import __spark_entry__ as e
    from etdtransform_spark.operators.corpus import (
        contamination,
        pack_documents,
        remove_boilerplate_lines,
        scrub_pii,
    )
    from etdtransform_spark.operators.dedup import exact_duplicates
    from etdtransform_spark.operators.sessions import hash_sample
    from etdtransform_spark.operators.text import gopher_gate

    docs = e._t(spark, SF_DIR, "documents").filter(F.col("doc_id").isNotNull())
    staged = docs.select(
        "doc_id", "source", e._e2e_staged_text().alias("text")
    )

    timings: dict[str, dict[str, float]] = {}

    def stage(name, make):
        """make() -> DataFrame; materialize eagerly, record wall + CPU."""
        t0 = time.monotonic()
        c0 = executor_cpu_ns(spark)
        out = make().localCheckpoint(eager=True)
        wall = time.monotonic() - t0
        c1 = executor_cpu_ns(spark)
        cpu = (c1 - c0) / 1e9 if c0 >= 0 and c1 >= c0 else -1.0
        timings[name] = {"wall_s": round(wall, 2), "cpu_s": round(cpu, 2)}
        print(f"{name:24s} wall {wall:7.2f}s  cpu {cpu:8.2f}s", flush=True)
        return out

    staged_m = stage("0_stage_text", lambda: staged)
    s1 = stage(
        "1_scrub_pii",
        lambda: scrub_pii(staged_m).select(
            "doc_id", F.col("text_scrubbed").alias("text")
        ),
    )
    s2 = stage(
        "2_boilerplate",
        lambda: remove_boilerplate_lines(
            s1, min_doc_frac=0.02, min_docs=2
        ).select("doc_id", "text_clean"),
    )
    canon = stage(
        "3_exact_dedup",
        lambda: exact_duplicates(s2, text_col="text_clean").select(
            F.col("canonical_id").alias("doc_id")
        ),
    )
    s3 = s2.join(canon, "doc_id")
    s4 = stage(
        "4_gopher_gate",
        lambda: s3.join(
            gopher_gate(
                s3.select("doc_id", F.col("text_clean").alias("text")),
                min_words=30,
            )
            .filter(F.col("keep"))
            .select("doc_id"),
            "doc_id",
        ),
    )
    bench = hash_sample(docs, "doc_id", 10)
    contam = stage(
        "5_contamination",
        lambda: contamination(
            s4.select("doc_id", F.col("text_clean").alias("text")),
            bench,
            n=5,
        ),
    )
    s5 = s4.join(contam.select("doc_id"), "doc_id", "left_anti")
    packed = stage(
        "6_pack",
        lambda: pack_documents(
            s5.join(docs.select("doc_id", "source"), "doc_id").select(
                "source", "doc_id", F.col("text_clean").alias("text")
            ),
            budget_tokens=512,
        ),
    )
    n = packed.count()
    total_cpu = sum(v["cpu_s"] for v in timings.values() if v["cpu_s"] > 0)
    print(json.dumps({"rows": n, "total_cpu_s": round(total_cpu, 2),
                      "stages": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
