"""Composite LLM-pipeline contract (scrub -> boilerplate -> dedup ->
gopher -> decontaminate -> pack): structural invariants the oracle's
value-hash can't articulate — bin arithmetic recomputed independently,
dedup-group canonicals, and the packing budget."""

from __future__ import annotations


def _run(spark, sf_dir):
    import __spark_entry__ as e

    return e.queries()["llm_pipeline_e2e"](spark, sf_dir).toPandas()


def test_e2e_packing_arithmetic_and_budget(spark):
    out = _run(spark, "/root/testdata/sf0.001")
    assert len(out) > 0
    assert (out.n_tokens > 0).all()  # gopher floor: no empty survivors
    assert (out.bin_offset >= 0).all() and (out.bin_offset < 512).all()
    # independent recomputation: within each source in doc_id order the
    # exclusive cumsum determines (bin_id, bin_offset)
    for _src, g in out.groupby("source", dropna=False):
        g = g.sort_values("doc_id")
        ce = 0
        for r in g.itertuples():
            assert r.bin_id == ce // 512, (r, ce)
            assert r.bin_offset == ce % 512
            ce += r.n_tokens


def test_e2e_dedup_and_decontamination(spark):
    """At sf0.01 the 3-doc shared-body groups survive boilerplate
    (3 < threshold 10) and collapse at the dedup stage: only the
    lowest id of each group may appear in the packed output."""
    out = _run(spark, "/root/testdata/sf0.01")
    ids = set(out.doc_id)
    group_members = [i for i in ids if i % 50 in (11, 12, 13)]
    for i in group_members:
        assert i % 50 == 11, f"non-canonical group member {i} survived"
    # the benchmark sample ids (hash_sample 10%) must be gone: their raw
    # text IS their cleaned body line, so every surviving bench doc
    # would share all its 5-grams with itself
    from etdtransform_spark.functions.hashing import portable_hash64
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    h = portable_hash64(F.col("doc_id").cast("string"), seed="sample")
    bench = {
        r.doc_id
        for r in docs.select("doc_id").filter(F.pmod(h, F.lit(100)) < 10).collect()
    }
    # bench docs that are plain word-soup docs (not dup-group members,
    # whose body was replaced) cannot survive decontamination
    soup_bench = {i for i in bench if i % 50 not in (11, 12, 13)}
    assert soup_bench, "fixture should sample some soup docs"
    assert not (ids & soup_bench), sorted(ids & soup_bench)[:5]
