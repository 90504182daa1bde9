"""``analyst_read``: one client, closed loop, over a seeded query mix on the
pipeline outputs (materialised during set-up).

Each query is timed in two parts: the ``api`` call that returns the lazy
DataFrame (listing, schema reads, planning) and the ``collect``. Every
result is compared with the same question asked of DuckDB over the same
parquet files and the generated weather.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import time

import duckdb
import numpy as np
from pyspark.sql import functions as F

from etdtransform_spark.api import (
    catalog,
    get_household_tables,
    get_project_tables,
    get_weather_data_table,
    register_sql_views,
)
from etdtransform_spark.operators.periods import get_extreme_avg_period
from etdtransform_spark.plans.pipeline import run_pipeline
from etdtransform_spark.sources.knmi import (
    get_project_weather_station_data,
    load_knmi_weather_data,
)
from etdtransform_spark.sources.parquet import (
    combine_household_files,
    family_path,
    read_family,
    read_index,
)

from . import gen

QUERIES = [
    "project_day",
    "household_range",
    "sql_view",
    "coldest_weeks",
    "extreme_period",
    "catalog",
]
ROUNDS = 18  # 108 queries in a mix
RANGE_DAYS = 2
INTERVALS = ["15min", "60min"]  # the families the mix reads
VALUE = "ElektriciteitsgebruikTotaalNetto"


def query_mix(seed: int, inputs) -> list[tuple[str, dict]]:
    """Rounds of one query of every type, each round in a seeded order, with
    seeded parameters (household, date range; projects and stations taken
    in turn). Any whole number of rounds has the same composition, so runs
    of different seeds measure the same mix."""
    rng = np.random.default_rng(seed + 1)
    houses = sorted(inputs.houses)
    projects = inputs.projects
    t0 = gen.T0.astype(dt.datetime)
    mix = []
    for i in range(ROUNDS):
        for j in rng.permutation(len(QUERIES)):
            start = t0 + dt.timedelta(days=int(rng.integers(0, inputs.days - RANGE_DAYS + 1)))
            mix.append((QUERIES[j], {
                "project": projects[i % len(projects)],
                "house": houses[int(rng.integers(len(houses)))],
                "start": start,
                "stop": start + dt.timedelta(days=RANGE_DAYS),
                "station": sorted(gen.STATIONS)[i % len(gen.STATIONS)],
            }))
    return mix


class Session:
    """The analyst's open session: lazy weather, station mapping and index,
    SQL views over the output folder."""

    def __init__(self, spark, inputs, out: str):
        self.spark, self.out = spark, out
        self.weather = load_knmi_weather_data(spark, inputs.weather)
        self.stations = get_project_weather_station_data(spark, inputs.stations)
        self.index = read_index(spark, inputs.mapped)
        t0 = time.perf_counter()
        register_sql_views(spark, out, index_df=self.index)
        self.register_s = time.perf_counter() - t0

    def build(self, q: str, p: dict):
        spark, out = self.spark, self.out
        if q == "project_day":
            t = get_project_tables(
                spark, out, intervals=["60min"], weather=self.weather,
                station_mapping=self.stations,
            )["60min"]
            return (
                t.filter(F.col("ProjectIdBSV") == p["project"])
                .groupBy(F.to_date("ReadingDate").alias("day"))
                .agg(F.avg(VALUE), F.avg("Temperatuur"), F.count(F.lit(1)))
            )
        if q == "household_range":
            t = get_household_tables(spark, out, intervals=["15min"], index_df=self.index)["15min"]
            return t.filter(
                (F.col("HuisIdBSV") == p["house"])
                & (F.col("ReadingDate") >= F.lit(p["start"]))
                & (F.col("ReadingDate") < F.lit(p["stop"]))
            ).select("ReadingDate", "Dataleverancier", "Oppervlakte", VALUE, "ZonopwekBruto")
        if q == "sql_view":
            return spark.sql(_view_sql(p))
        if q == "coldest_weeks":
            return (
                get_weather_data_table(self.weather)
                .filter(F.col("Koudste2ISOWkn") & (F.col("STN") == p["station"]))
                .select("STN", "iso_year", "week_of_year", "WeeklyAvgTemp")
                .distinct()
            )
        if q == "extreme_period":
            t = read_family(spark, out, "household", "60min").filter(
                F.col("ProjectIdBSV") == p["project"]
            )
            return get_extreme_avg_period(
                t, VALUE, 4, ["HuisIdBSV"], step_seconds=3600
            )
        if q == "catalog":
            return catalog(spark, out).select(
                "family", "interval", "n_files", "size_bytes", "n_columns", "committed"
            )
        raise ValueError(q)


def _view_sql(p: dict) -> str:
    return (
        f"SELECT Dataleverancier, ProjectIdBSV, CAST(ReadingDate AS DATE) AS day, "
        f"sum({VALUE}) AS e, count(*) AS n FROM household_60min "
        f"WHERE ReadingDate >= TIMESTAMP '{p['start']:%Y-%m-%d %H:%M:%S}' "
        f"AND ReadingDate < TIMESTAMP '{p['stop']:%Y-%m-%d %H:%M:%S}' "
        f"GROUP BY 1, 2, 3"
    )


class Oracle:
    """The same questions asked of DuckDB over the output parquet files,
    with the weather parsed straight from the generated KNMI text."""

    def __init__(self, inputs, out: str):
        self.out = out
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for name, iv in [("household", "60min"), ("household", "15min"), ("project", "60min")]:
            path = family_path(out, name, iv)
            self.con.execute(
                f"CREATE VIEW {name}_{iv}_raw AS SELECT * REPLACE "
                f"(CAST(ReadingDate AS TIMESTAMP) AS ReadingDate) "
                f"FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
            )
        self.con.execute(
            f"CREATE VIEW idx AS SELECT * FROM '{os.path.join(inputs.mapped, 'index.parquet')}'"
        )
        self.con.execute(
            "CREATE VIEW household_60min AS SELECT * FROM household_60min_raw "
            "LEFT JOIN idx USING (HuisIdBSV, ProjectIdBSV)"
        )
        rows = []
        for path in sorted(glob.glob(os.path.join(inputs.weather, "*.txt"))):
            with open(path) as fh:
                for line in fh:
                    if not line.startswith("#"):
                        stn, ymd, hh, t, _fh, _u = (int(v) for v in line.split(","))
                        rows.append((stn, ymd, hh, t / 10.0))
        self.con.execute(
            "CREATE TABLE weather (STN INT, YYYYMMDD INT, HH INT, Temperatuur DOUBLE)"
        )
        self.con.executemany("INSERT INTO weather VALUES (?, ?, ?, ?)", rows)
        self.con.execute(
            "CREATE TABLE stations (ProjectIdBSV BIGINT, STN INT)"
        )
        self.con.executemany(
            "INSERT INTO stations VALUES (?, ?)", list(gen.PROJECT_STATION.items())
        )

    def close(self) -> None:
        self.con.close()

    def ask(self, q: str, p: dict) -> list[tuple]:
        c = self.con
        if q == "project_day":
            return c.execute(
                f"SELECT CAST(ReadingDate AS DATE) AS day, avg({VALUE}), avg(Temperatuur), "
                f"count(*) FROM project_60min_raw p LEFT JOIN stations s USING (ProjectIdBSV) "
                f"LEFT JOIN weather w ON w.STN = s.STN "
                f"AND w.YYYYMMDD = CAST(strftime(ReadingDate, '%Y%m%d') AS INT) "
                f"AND w.HH = hour(ReadingDate) + 1 "
                f"WHERE ProjectIdBSV = ? GROUP BY 1", [p["project"]],
            ).fetchall()
        if q == "household_range":
            return c.execute(
                f"SELECT ReadingDate, Dataleverancier, Oppervlakte, {VALUE}, ZonopwekBruto "
                f"FROM household_15min_raw LEFT JOIN idx USING (HuisIdBSV, ProjectIdBSV) "
                f"WHERE HuisIdBSV = ? AND ReadingDate >= ? AND ReadingDate < ?",
                [p["house"], p["start"], p["stop"]],
            ).fetchall()
        if q == "sql_view":
            return c.execute(_view_sql(p)).fetchall()
        if q == "coldest_weeks":
            return c.execute(
                "WITH wk AS (SELECT STN, isoyear(ts) AS y, week(ts) AS w, "
                "avg(Temperatuur) AS a, count(Temperatuur) / 24.0 AS days FROM "
                "(SELECT *, strptime(CAST(YYYYMMDD AS VARCHAR), '%Y%m%d') "
                "+ (HH - 1) * INTERVAL 1 HOUR AS ts FROM weather) GROUP BY ALL) "
                "SELECT STN, y, w, a FROM wk WHERE days >= 7 AND STN = ? "
                "ORDER BY a, y, w LIMIT 2", [p["station"]],
            ).fetchall()
        if q == "extreme_period":
            return c.execute(
                f"WITH r AS (SELECT HuisIdBSV, ReadingDate, CASE WHEN count({VALUE}) OVER w >= 2 "
                f"THEN avg({VALUE}) OVER w END AS ra FROM household_60min_raw "
                f"WHERE ProjectIdBSV = ? WINDOW w AS (PARTITION BY HuisIdBSV "
                f"ORDER BY ReadingDate ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)), "
                f"m AS (SELECT HuisIdBSV, max(ra) AS v FROM r GROUP BY 1) "
                f"SELECT m.HuisIdBSV, min(r.ReadingDate) - INTERVAL 3 HOUR, min(r.ReadingDate), "
                f"any_value(m.v) FROM m JOIN r ON r.HuisIdBSV = m.HuisIdBSV AND r.ra = m.v "
                f"GROUP BY 1", [p["project"]],
            ).fetchall()
        if q == "catalog":
            out = []
            for name in sorted(os.listdir(self.out)):
                path = os.path.join(self.out, name)
                files = glob.glob(f"{path}/**/*.parquet", recursive=True)
                ncols = len(c.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{path}/**/*.parquet', "
                    f"hive_partitioning = true)"
                ).fetchall())
                out.append((
                    name, len(files), sum(os.path.getsize(f) for f in files), ncols,
                    os.path.exists(os.path.join(path, "_SUCCESS")),
                ))
            return out
        raise ValueError(q)


def same(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive equality; floats within a relative 1e-9."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True


def _normalise(q: str, rows) -> list[tuple]:
    out = [tuple(r) for r in rows]
    if q == "catalog":
        # the oracle names families by directory
        out = [
            (os.path.basename(family_path("", f, iv)), n, size, ncols, ok)
            for f, iv, n, size, ncols, ok in out
        ]
    return out


def setup(ctx) -> None:
    """Materialise the pipeline outputs and open the analyst session."""
    spark, inputs = ctx.spark, ctx.inputs
    out = os.path.join(ctx.workdir, "out")
    index = read_index(spark, inputs.mapped)
    run_pipeline(
        spark, combine_household_files(spark, inputs.mapped, index), out,
        # imputation does nothing for the reads; one column keeps set-up short
        cumulative_columns=inputs.imputed_columns[:1], intervals=INTERVALS,
    )
    ctx.session = Session(spark, inputs, out)
    ctx.oracle = Oracle(inputs, out)
    # one untimed round compiles every query shape once, as an analyst's
    # open session would have
    for q, p in query_mix(ctx.seed + 1000, inputs)[: len(QUERIES)]:
        ctx.session.build(q, p).collect()


def run(ctx) -> None:
    """Closed loop over the mix (cycling if time remains) until
    ``ctx.seconds`` of query time have passed and the round is complete.

    The latency reported as ``op_p50_s`` is the median over rounds of the
    mean query latency in a round: the six query types differ in cost by
    up to 6x, so a median over single queries falls on the boundary
    between two types and jumps between runs."""
    session, oracle, tracer = ctx.session, ctx.oracle, ctx.tracer
    mix = query_mix(ctx.seed, ctx.inputs)
    lat: list[float] = []
    rounds: dict[int, list[float]] = {}
    per_q: dict[str, list] = {q: [] for q in QUERIES}
    rows_out = 0
    measured = 0.0
    i = 0
    while measured < ctx.seconds or i % len(QUERIES):
        q, p = mix[i % len(mix)]
        i += 1
        ctx.attempted += 1
        try:
            t0 = time.perf_counter()
            with tracer.span(f"read.{q}.build_s") as sb:
                df = session.build(q, p)
            with tracer.span(f"read.{q}.exec_s") as se:
                rows = df.collect()
            dt_q = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, the loop goes on
            ctx.fail([f"{q} {p}: {exc!r}"])
            continue
        measured += dt_q
        lat.append(dt_q)
        rounds.setdefault((i - 1) // len(QUERIES), []).append(dt_q)
        rows_out += len(rows)
        per_q[q].append((sb, se, len(rows)))
        if not same(_normalise(q, rows), oracle.ask(q, p)):
            ctx.fail([f"{q} {p}: result differs from DuckDB"])
    oracle.close()
    ctx.report_ops(
        [sum(r) / len(r) for r in rounds.values()], measured, rows_out, samples=lat
    )
    ctx.named.update(
        query_p50_s=(ctx.metrics["op_p50_s"], "s"),
        query_p90_s=(ctx.op_p90_s, "s"),
        queries_per_s=(ctx.ops_per_s, "1/s"),
    )
    if tracer.enabled:
        tracer.attach_stage_metrics()
        layer = {"api.register_sql_views_s": session.register_s}
        for q, done in per_q.items():
            n = max(len(done), 1)
            nrows = max(sum(r for _, _, r in done), 1)
            nbytes = sum(
                s.counts.get("inputBytes", 0) for sb, se, _ in done for s in (sb, se)
            )
            layer[f"read.{q}.build_s"] = sum(sb.duration for sb, _, _ in done) / n
            layer[f"read.{q}.exec_s"] = sum(se.duration for _, se, _ in done) / n
            layer[f"read.{q}.bytes_read_per_row_returned"] = nbytes / nrows
        ctx.layer.update(layer)


LAYER_METRICS = [("api.register_sql_views_s", "s")] + [
    (f"read.{q}.{m}", unit)
    for q in QUERIES
    for m, unit in (("build_s", "s"), ("exec_s", "s"), ("bytes_read_per_row_returned", "bytes"))
]
