"""End-to-end ETL pipeline test on synthetic ETD-shaped household data —
the workflow of reference tests/test_total_imputation_workflow.py, on a
deterministic in-repo fixture instead of the reference's private data."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from etdtransform_spark.operators.calculated import CALCULATED_COLUMNS
from etdtransform_spark.plans.pipeline import run_pipeline
from etdtransform_spark.sources.parquet import read_family

T0 = dt.datetime(2023, 1, 1, 0, 0, 0)
N_STEPS = 288 * 2  # two days of 5-minute readings
HOUSES = {1: 1, 2: 1, 3: 2}  # house -> project
CUM_COLS = ["ElektriciteitNetgebruikLaag", "Zon-opwekTotaal"]


def _series(house):
    """Deterministic cumulative series with a gap in the middle for house 1."""
    rows = []
    cum = {c: 0.0 for c in CUM_COLS}
    prev = dict(cum)
    for i in range(N_STEPS):
        ts = T0 + dt.timedelta(minutes=5 * i)
        row = {"HuisIdBSV": house, "ProjectIdBSV": HOUSES[house], "ReadingDate": ts}
        for k, c in enumerate(CUM_COLS):
            inc = 0.01 * ((i + house + k) % 5)
            cum[c] = round(cum[c] + inc, 10)
            gap = house == 1 and 100 <= i < 110
            row[c] = None if gap else cum[c]
            row[f"{c}Diff"] = None if (gap or i == 0) else round(cum[c] - prev[c], 10)
            prev[c] = cum[c]
        rows.append(row)
    return rows


def _household_frame(spark, n_steps=N_STEPS):
    """The first ``n_steps`` readings of every house as one DataFrame."""
    cols = ["HuisIdBSV", "ProjectIdBSV", "ReadingDate"] + [
        x for c in CUM_COLS for x in (c, f"{c}Diff")
    ]
    schema = (
        "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, "
        + ", ".join(f"`{c}` double, `{c}Diff` double" for c in CUM_COLS)
    )
    rows = [r for h in HOUSES for r in _series(h)[:n_steps]]
    return spark.createDataFrame([tuple(r[k] for k in cols) for r in rows], schema)


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("etd_out"))
    written = run_pipeline(
        spark, _household_frame(spark), out_dir, cumulative_columns=CUM_COLS,
        intervals=["15min", "60min", "24h"],
    )
    return out_dir, written


def test_pipeline_reads_back_only_families_a_later_stage_reads(
    spark, tmp_path, monkeypatch
):
    """A 5-interval run writes all 19 families but reads back only the 11
    a later stage reads: the summaries, the aggregated diffs and the
    project families are written and left on disk."""
    import etdtransform_spark.plans.pipeline as pipeline_mod
    from etdtransform_spark.config import dataset_families
    from etdtransform_spark.sources.parquet import family_path

    reads = []
    read = pipeline_mod.read_family

    def counting_read(*args, **kw):
        reads.append(args[2:])
        return read(*args, **kw)

    monkeypatch.setattr(pipeline_mod, "read_family", counting_read)
    out = str(tmp_path)
    written = run_pipeline(
        spark, _household_frame(spark, 288), out, cumulative_columns=CUM_COLS
    )
    assert len(reads) == 11, reads
    assert written == {
        name if iv is None else f"{name}_{iv}": family_path(out, name, iv)
        for name, iv in dataset_families()
    }


def test_all_families_written(pipeline_out):
    _, written = pipeline_out
    expected = {
        "household_default", "household_diff_max_bounds", "avg_diffs",
        "household_imputed", "impute_gap_stats", "impute_summary_household",
        "impute_summary_project", "household_aggregated_diff",
        "household_calculated", "household_15min", "household_60min",
        "household_24h", "project_15min", "project_60min", "project_24h",
    }
    assert expected <= set(written)


def test_imputed_preserves_rows_and_fills_gaps(spark, pipeline_out):
    out_dir, _ = pipeline_out
    imputed = read_family(spark, out_dir, "household_imputed")
    assert imputed.count() == N_STEPS * len(HOUSES)
    # house 1: the 10-row gap plus the first row (every house's first Diff is
    # NULL and the reference treats any NA-diff run as a gap,
    # vectorized_impute.py:387-398) are imputed
    gap = imputed.filter(
        (F.col("HuisIdBSV") == 1)
        & F.col("ElektriciteitNetgebruikLaagDiff_is_imputed")
    )
    assert gap.count() == 11
    assert gap.filter(F.col("ElektriciteitNetgebruikLaagDiff").isNull()).count() == 0
    # house 2 has no mid-series gap: only its first row is imputed
    h2 = imputed.filter(
        (F.col("HuisIdBSV") == 2)
        & F.col("ElektriciteitNetgebruikLaagDiff_is_imputed")
    )
    assert [r["ReadingDate"] for r in h2.collect()] == [T0]


def test_check_column_consistency(spark, pipeline_out):
    """<Var>Check = diff(new - original) must be 0 wherever both series are
    fully observed (reference aggregate.py:199-211 invariant)."""
    out_dir, _ = pipeline_out
    imputed = read_family(spark, out_dir, "household_imputed")
    bad = imputed.filter(
        (F.col("HuisIdBSV") == 2)
        & F.col("ElektriciteitNetgebruikLaagCheck").isNotNull()
        & (F.abs(F.col("ElektriciteitNetgebruikLaagCheck")) > 1e-9)
    )
    assert bad.count() == 0


def test_calculated_columns_present(spark, pipeline_out):
    out_dir, _ = pipeline_out
    calc = read_family(spark, out_dir, "household_calculated")
    present = [c for c in CALCULATED_COLUMNS if c in calc.columns]
    assert present == CALCULATED_COLUMNS
    assert "ZonopwekBruto" in calc.columns


def test_resample_and_project_shapes(spark, pipeline_out):
    out_dir, _ = pipeline_out
    hh60 = read_family(spark, out_dir, "household", "60min")
    assert hh60.count() == len(HOUSES) * (N_STEPS // 12)
    proj60 = read_family(spark, out_dir, "project", "60min")
    rows = {(r["ProjectIdBSV"], r["ReadingDate"]): r for r in proj60.collect()}
    assert len(rows) == 2 * (N_STEPS // 12)
    # project 1 has 2 households, project 2 has 1
    some = next(r for (p, _), r in rows.items() if p == 1)
    assert some["n"] == 2


def test_analytical_load_api(spark, pipeline_out):
    """get_household_tables / get_project_tables return lazy index-joined
    frames per interval (reference load_data.py:23-67,320-351)."""
    from etdtransform_spark.api import get_household_tables, get_project_tables

    out_dir, _ = pipeline_out
    index = spark.createDataFrame(
        [(h, p, True, "LeverancierX") for h, p in HOUSES.items()],
        "HuisIdBSV long, ProjectIdBSV long, Meenemen boolean, Dataleverancier string",
    )
    hh = get_household_tables(
        spark, out_dir, intervals=["15min", "60min"], index_df=index
    )
    assert {"default", "calculated", "15min", "60min"} <= set(hh)
    assert "Dataleverancier" in hh["60min"].columns
    assert hh["60min"].filter(F.col("Dataleverancier").isNull()).count() == 0
    proj = get_project_tables(spark, out_dir, intervals=["60min"])
    assert set(proj) == {"60min"}
    assert proj["60min"].count() == 2 * (N_STEPS // 12)


def test_partition_pruning(spark, pipeline_out):
    """Stage sinks partition by ProjectIdBSV; a project filter must prune at
    the scan (PLANS.md scale contract), not post-filter."""
    out_dir, _ = pipeline_out
    df = read_family(spark, out_dir, "household_default").filter(
        F.col("ProjectIdBSV") == 2
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan
    assert "ProjectIdBSV" in plan.split("PartitionFilters")[1].split("\n")[0]
    # only house 3 lives in project 2
    assert df.count() == N_STEPS


def test_summaries(spark, pipeline_out):
    out_dir, _ = pipeline_out
    sh = read_family(spark, out_dir, "impute_summary_household")
    r = sh.filter(
        (F.col("HuisIdBSV") == 1) & (F.col("column") == "ElektriciteitNetgebruikLaagDiff")
    ).collect()[0]
    assert r["imputed"] == 11
    assert math.isclose(
        r["percentage_imputed"], 11 / (N_STEPS) * 100, rel_tol=1e-9
    )
    sp = read_family(spark, out_dir, "impute_summary_project")
    assert sp.filter(F.col("percentage_imputed") > 100).count() == 0


def test_pipeline_skip_existing_resumes_without_rewrite(spark, pipeline_out):
    """skip_existing=True on a completed output folder must not rewrite any
    family (the reference's sorted=/diffs_calculated= skip flags, made
    structural via _SUCCESS markers) — and removing one family's marker
    recomputes exactly that family."""
    import os
    import time

    out_dir, written = pipeline_out
    marks = {
        k: os.path.getmtime(os.path.join(p, "_SUCCESS"))
        for k, p in written.items()
    }
    rows_before = {
        k: spark.read.parquet(p).count() for k, p in written.items()
    }
    time.sleep(1.1)  # mtime resolution guard
    dummy = spark.createDataFrame([], spark.read.parquet(
        written["household_default"]).schema)
    written2 = run_pipeline(
        spark, dummy, out_dir, cumulative_columns=CUM_COLS,
        intervals=["15min", "60min", "24h"], skip_existing=True,
    )
    assert written2 == written
    for k, p in written2.items():
        assert os.path.getmtime(os.path.join(p, "_SUCCESS")) == marks[k], k
    # invalidate ONE downstream family -> only it is rebuilt
    target = written["project_24h"]
    os.remove(os.path.join(target, "_SUCCESS"))
    written3 = run_pipeline(
        spark, dummy, out_dir, cumulative_columns=CUM_COLS,
        intervals=["15min", "60min", "24h"], skip_existing=True,
    )
    assert os.path.getmtime(os.path.join(target, "_SUCCESS")) > marks["project_24h"]
    for k, p in written3.items():
        if k != "project_24h":
            assert os.path.getmtime(os.path.join(p, "_SUCCESS")) == marks[k], k
    rows_after = {k: spark.read.parquet(p).count() for k, p in written3.items()}
    assert rows_after == rows_before

    # a lost gap-stats marker recomputes gap stats alone (from the written
    # household_imputed family), with the same rows
    marks = {
        k: os.path.getmtime(os.path.join(p, "_SUCCESS"))
        for k, p in written3.items()
    }

    def gap_rows():
        rows = sorted(spark.read.parquet(written["impute_gap_stats"]).collect())
        floats = ("diff_col_total", "cum_col_min_max_diff", "deviation")
        exact = [{k: v for k, v in r.asDict().items() if k not in floats}
                 for r in rows]
        return exact, [[r[f] for f in floats] for r in rows]

    exact_before, floats_before = gap_rows()
    time.sleep(1.1)
    os.remove(os.path.join(written["impute_gap_stats"], "_SUCCESS"))
    written4 = run_pipeline(
        spark, dummy, out_dir, cumulative_columns=CUM_COLS,
        intervals=["15min", "60min", "24h"], skip_existing=True,
    )
    assert written4 == written
    for k, p in written4.items():
        rewritten = os.path.getmtime(os.path.join(p, "_SUCCESS")) != marks[k]
        assert rewritten == (k == "impute_gap_stats"), k
    exact_after, floats_after = gap_rows()
    assert exact_after == exact_before
    for a, b in zip(floats_after, floats_before):
        assert a == pytest.approx(b, rel=1e-12)


def test_compact_family_reduces_files_preserves_rows(spark, tmp_path):
    """compact_family rewrites a fragmented sink into few files with
    identical contents, atomically (no half-replaced family)."""
    import glob
    import os

    from etdtransform_spark.sources.parquet import compact_family, write_family

    out = str(tmp_path / "fam")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2.0)
    df.repartition(64).write.parquet(out + "/frag.parquet")
    n_before = len(glob.glob(out + "/frag.parquet/part-*"))
    assert n_before >= 32
    rows_before = spark.read.parquet(out + "/frag.parquet").count()
    sum_before = spark.read.parquet(out + "/frag.parquet").agg(
        F.sum("v")
    ).collect()[0][0]

    compact_family(spark, out, "frag", target_file_mb=128)
    n_after = len(glob.glob(out + "/frag.parquet/part-*"))
    assert n_after < n_before and n_after <= 2
    assert spark.read.parquet(out + "/frag.parquet").count() == rows_before
    assert (
        spark.read.parquet(out + "/frag.parquet").agg(F.sum("v")).collect()[0][0]
        == sum_before
    )
    assert not os.path.exists(out + "/frag.parquet._compact_tmp")
    assert not os.path.exists(out + "/frag.parquet._compact_old")


def test_register_sql_views(spark, pipeline_out):
    """The SQL façade exposes every materialized family as a temp view and
    spark.sql answers over them (reference read path served by Catalyst)."""
    from etdtransform_spark.api import register_sql_views

    out_dir, written = pipeline_out
    views = register_sql_views(
        spark, out_dir, intervals=["15min", "60min", "24h"]
    )
    assert "household_60min" in views and "project_24h" in views
    assert "household_imputed" in views
    n_sql = spark.sql(
        "SELECT count(DISTINCT HuisIdBSV) AS n FROM household_imputed"
    ).collect()[0].n
    n_df = (
        spark.read.parquet(written["household_imputed"])
        .select("HuisIdBSV").distinct().count()
    )
    assert n_sql == n_df
    joined = spark.sql(
        """
        SELECT h.ReadingDate, count(*) AS n
        FROM household_60min h JOIN project_60min p
          ON h.ProjectIdBSV = p.ProjectIdBSV AND h.ReadingDate = p.ReadingDate
        GROUP BY 1 LIMIT 5
        """
    ).collect()
    assert len(joined) > 0


def test_imputation_reading_date_stats(spark, pipeline_out):
    """Per-timestamp stats: imputed counts sum to the frame-wide imputed
    total; a timestamp with no imputation carries a zero mask."""
    from etdtransform_spark.operators.impute import (
        imputation_reading_date_stats,
    )
    from etdtransform_spark.sources.parquet import read_family

    out_dir, _written = pipeline_out
    imputed = read_family(spark, out_dir, "household_imputed")
    col = CUM_COLS[0]
    stats = imputation_reading_date_stats(imputed, [col])
    total_from_stats = stats.agg(
        F.sum(f"{col}Diff_imputed")
    ).collect()[0][0]
    total_direct = imputed.filter(F.col(f"{col}Diff_is_imputed")).count()
    assert total_from_stats == total_direct
    clean = stats.filter(F.col(f"{col}Diff_imputed") == 0)
    assert clean.filter(
        F.col(f"{col}Diff_impute_type_mask") != 0
    ).count() == 0


def test_write_sorted_gives_disjoint_file_ranges(spark, tmp_path):
    """write_sorted must produce files whose [min, max] key ranges are
    pairwise disjoint (zone-map property), verified from parquet footers."""
    import glob

    import pyarrow.parquet as pq

    from etdtransform_spark.sources.parquet import write_sorted

    df = spark.range(0, 100000).select(
        (F.col("id") * 7919 % 100000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "sorted.parquet")
    write_sorted(df, out, ["k"], n_files=8)
    ranges = []
    for f in glob.glob(out + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, (ranges,)  # disjoint, strictly ordered
    total = spark.read.parquet(out).count()
    assert total == 100000


def test_family_orc_roundtrip(spark, tmp_path):
    """ORC stage sinks: same family API, same pruning/pushdown contract."""
    from etdtransform_spark.sources.parquet import read_family, write_family

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    write_family(df, str(tmp_path), "fam_orc", format="orc")
    back = read_family(spark, str(tmp_path), "fam_orc", format="orc")
    assert back.count() == 1000
    assert back.filter(F.col("k") == 3).count() == df.filter(F.col("k") == 3).count()
    plan = back.filter(F.col("k") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "OrcScan" in plan or "Scan orc" in plan, plan[:500]


def test_compact_family_orc_and_crash_recovery(spark, tmp_path):
    """compact_family honors the format parameter and recovers from a
    simulated crash between the two swap renames."""
    import os

    from etdtransform_spark.sources.parquet import (
        compact_family,
        family_path,
        read_family,
        write_family,
    )

    out = str(tmp_path)
    df = spark.range(0, 5000).withColumn("v", F.col("id") * 1.0)
    write_family(df.repartition(16), out, "fam_o", format="orc")
    compact_family(spark, out, "fam_o", format="orc")
    assert read_family(spark, out, "fam_o", format="orc").count() == 5000

    # simulate crash: family renamed aside, tmp missing
    path = family_path(out, "fam_o")
    os.rename(path, path + "._compact_old")
    compact_family(spark, out, "fam_o", format="orc")
    assert read_family(spark, out, "fam_o", format="orc").count() == 5000
    assert not os.path.exists(path + "._compact_old")


def test_compact_family_keeps_partitions(spark, tmp_path):
    """compact_family(partition_by=...) keeps every partition directory
    and the exact rows, and sizes from data files only."""
    import os

    from etdtransform_spark.sources.parquet import (
        compact_family,
        data_files,
        family_path,
        read_family,
        write_family,
    )

    out = str(tmp_path)
    df = spark.range(0, 3000).select(
        (F.col("id") % 3).alias("ProjectIdBSV"), (F.col("id") * 0.5).alias("v")
    )
    path = write_family(
        df.repartition(12), out, "fam_p", partition_by=["ProjectIdBSV"]
    )

    def partitions():
        return sorted(d for d in os.listdir(path) if d.startswith("ProjectIdBSV="))

    parts_before = partitions()
    rows_before = sorted(map(tuple, read_family(spark, out, "fam_p").collect()))
    n_before = len(data_files(path))
    assert len(parts_before) == 3 and n_before > 3
    compact_family(spark, out, "fam_p", partition_by=["ProjectIdBSV"])
    assert partitions() == parts_before
    files = data_files(family_path(out, "fam_p"))
    assert len(files) == 3 and all(f.endswith(".parquet") for f in files)
    assert sorted(map(tuple, read_family(spark, out, "fam_p").collect())) == rows_before


def test_read_family_merge_schema(spark, tmp_path):
    """Two schema versions appended to one family directory read back as
    the union schema with nulls for the missing column."""
    from etdtransform_spark.sources.parquet import family_path, read_family

    path = family_path(str(tmp_path), "evolving")
    spark.createDataFrame([(1, 10.0)], "id bigint, v double").write.parquet(
        path + "/batch=1"
    )
    spark.createDataFrame(
        [(2, 20.0, "x")], "id bigint, v double, tag string"
    ).write.parquet(path + "/batch=2")
    df = read_family(spark, str(tmp_path), "evolving", merge_schema=True)
    got = {r.id: (r.v, r.tag) for r in df.collect()}
    assert got == {1: (10.0, None), 2: (20.0, "x")}


def test_catalog_lists_materialized_families(spark, pipeline_out):
    """catalog() is metadata-only discovery: one row per family on disk
    with commit state, sizes, and column counts."""
    from etdtransform_spark.api import catalog

    out_dir, written = pipeline_out
    cat = {r["family"] if r["interval"] is None
           else f"{r['family']}_{r['interval']}": r
           for r in catalog(spark, out_dir).collect()}
    assert "household_imputed" in cat and "project_60min" in cat
    for r in cat.values():
        assert r["committed"] is True
        assert r["n_files"] >= 1 and r["size_bytes"] > 0
        assert r["n_columns"] >= 2
    # column counts agree with a real read
    n_cols = len(spark.read.parquet(written["household_imputed"]).columns)
    assert cat["household_imputed"]["n_columns"] == n_cols


def test_uncommitted_family_is_listed_but_not_served(spark, pipeline_out, tmp_path):
    """A family without its _SUCCESS marker (a half-written sink) is not
    registered as a view nor returned as a table; catalog still lists it
    with committed=False."""
    import os
    import shutil

    from etdtransform_spark.api import (
        catalog,
        get_household_tables,
        register_sql_views,
    )

    out_dir = str(tmp_path / "copy")
    shutil.copytree(pipeline_out[0], out_dir)
    os.remove(os.path.join(out_dir, "household_60min.parquet", "_SUCCESS"))

    views = register_sql_views(spark, out_dir, intervals=["15min", "60min"])
    try:
        assert "household_15min" in views and "household_60min" not in views
        assert "project_60min" in views
    finally:
        for v in views:
            spark.catalog.dropTempView(v)
    hh = get_household_tables(spark, out_dir, intervals=["15min", "60min"])
    assert "15min" in hh and "60min" not in hh
    cat = {(r["family"], r["interval"]): r["committed"]
           for r in catalog(spark, out_dir).collect()}
    assert cat[("household", "60min")] is False
    assert cat[("household", "15min")] is True
