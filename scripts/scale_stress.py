"""Empirical scale-stress: time the heaviest contracts at two scale
factors and report the observed scaling exponent per query.

exponent = ln(T_big / T_small) / ln(rows_big / rows_small)

1.0 = linear, < 1 = fixed overhead amortizing, > 1 = super-linear (a
worklist item unless the design documents why — e.g. a deliberately
quadratic within-cluster verify whose cluster size grows with sf).
Wall-clock includes Spark job-scheduling overhead (~0.3-0.5 s/query
fixed), which DEFLATES exponents for fast queries — the point of
running only the multi-second ones.

Usage:
  python scripts/make_sf1_fixture.py          # builds /tmp/sf1
  python scripts/scale_stress.py [small_dir] [big_dir] [ratio]

Prints one JSON line per query and a summary; paste into PLANS.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
BIG = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
RATIO = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
ONLY = sys.argv[4].split(",") if len(sys.argv) > 4 else None

QUERIES = [
    "semantic_dedup",
    "bpe_token_counts",
    "kmeans_centroids",
    "zorder_roundtrip_sampled",
    "ngram_jaccard",
    "bradley_terry",
    "pagerank",
    "customer_hierarchy",
    "dedup_resolve_best",
    "ivfpq_topk",
    "pq_adc_topk",
    "adc_topk",
    "dedup_resolve",
    "dedup_clusters",
    "url_dedup_canonical",
]


def main() -> None:
    import __spark_entry__ as entry
    from etdtransform_spark.session import get_spark

    spark = get_spark()
    qs = entry.queries()
    # session warmup: JVM/codegen/scan setup must not be billed to the
    # first query's small-sf reading (it deflates that exponent)
    for d in (SMALL, BIG):
        spark.read.parquet(f"{d}/events.parquet").count()
    results = {}
    for name in ONLY or QUERIES:
        fn = qs[name]
        times = {}
        for label, sf_dir in (("small", SMALL), ("big", BIG)):
            best, n = None, 0
            for _ in range(2):  # best-of-2: hypervisor-steal compensation
                t0 = time.monotonic()
                n = fn(spark, sf_dir).count()
                el = time.monotonic() - t0
                best = el if best is None else min(best, el)
            times[label] = (best, n)
        t_s, n_s = times["small"]
        t_b, n_b = times["big"]
        exp = math.log(t_b / t_s) / math.log(RATIO)
        results[name] = {
            "t_small": round(t_s, 2),
            "t_big": round(t_b, 2),
            "rows_small": n_s,
            "rows_big": n_b,
            "exponent": round(exp, 2),
        }
        print(json.dumps({"query": name, **results[name]}), flush=True)
    worst = sorted(results.items(), key=lambda kv: -kv[1]["exponent"])
    print(
        json.dumps(
            {
                "summary": "scale_stress",
                "ratio": RATIO,
                "max_exponent": worst[0][1]["exponent"],
                "max_query": worst[0][0],
                "median_exponent": sorted(
                    r["exponent"] for r in results.values()
                )[len(results) // 2],
            }
        )
    )


if __name__ == "__main__":
    main()
