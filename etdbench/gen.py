"""Seeded input generator for the ETD benchmark.

Writes, from one integer seed, everything the engine reads:

- ``mapped/household_<id>_table.parquet``: one file per household in the
  etdmap "mapped" schema (13 cumulative meter columns with their ``Diff``
  twins, instantaneous sensors, supplier ids, ``validate_*`` flags), with
  TIMESTAMP(NANOS) reading dates as pandas/pyarrow write them;
- ``mapped/index.parquet``: the household index, one ``Meenemen=false`` house;
- ``weather/uurgeg_<stn>.txt``: KNMI hourly exports for two stations, with a
  cold snap and one missing day;
- ``stations.csv``: the project -> weather-station mapping;
- ``stream/delivery_<k>.parquet``: hourly fleet slices of the raw diffs for
  the streaming workload, a seeded share of rows delivered one file late.

The gap mix in the imputed columns reaches every ``ImputeType``: interior
gaps (scaled fill), a project-wide outage (linear fill), a gap across a meter
reset (negative jump), a gap without consumption (near-zero jump), leading
gaps ending at zero and above zero, trailing gaps, above-threshold spikes,
one all-NA column and one outlier household.

The generator uses numpy and pyarrow only; the engine sees nothing but the
files.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etdtransform_spark.config import CUMULATIVE_COLUMNS, INTERVAL_MIN_COUNT

STEP_S = 300
T0 = np.datetime64("2023-01-02T00:00:00", "s")  # a Monday: ISO weeks align
PROJECT_SIZES = (12, 5, 3)  # uneven; the 12-house project can exclude an outlier
STATIONS = {260: "De Bilt", 344: "Rotterdam"}
PROJECT_STATION = {1: 260, 2: 344, 3: 260}
INSTANT_COLUMNS = {
    "ElektriciteitVermogen": (0.0, 5.0),
    "ElektriciteitsgebruikHuishoudelijk": (0.0, 3.0),
    "TemperatuurWarmTapwater": (40.0, 60.0),
    "TemperatuurWoonkamer": (15.0, 24.0),
    "TemperatuurSetpointWoonkamer": (18.0, 21.0),
    "Zon-opwekMomentaan": (0.0, 4.0),
    "CO2": (400.0, 1500.0),
    "Luchtvochtigheid": (30.0, 70.0),
    "Ventilatiedebiet": (20.0, 150.0),
}
VALIDATE_COLUMNS = ["validate_reading_date_uniek"] + [
    f"validate_{c.replace('-', '')}_cumulatief" for c in CUMULATIVE_COLUMNS
]
# the columns run_pipeline imputes in the benchmark (a subset keeps one run
# inside the time budget; the files still carry all 13)
IMPUTED_COLUMNS = [
    "ElektriciteitNetgebruikHoog",
    "Zon-opwekTotaal",
]
SPIKE = 5.0  # above every THRESHOLDS Max of the imputed columns
WEATHER_DAYS_BEFORE = 21
WEATHER_DAYS_AFTER = 21


@dataclass
class Inputs:
    """What a generated folder holds, for the workloads and their checks."""

    root: str
    days: int
    imputed_columns: list[str]
    houses: dict[int, int] = field(default_factory=dict)  # included id -> project
    excluded_house: int = 0
    all_na: tuple[int, str] = (0, "")
    stream_rows: int = 0
    stream_files: int = 0

    @property
    def steps(self) -> int:
        return self.days * 288

    @property
    def mapped(self) -> str:
        return os.path.join(self.root, "mapped")

    @property
    def weather(self) -> str:
        return os.path.join(self.root, "weather")

    @property
    def stations(self) -> str:
        return os.path.join(self.root, "stations.csv")

    @property
    def stream(self) -> str:
        return os.path.join(self.root, "stream")

    @property
    def projects(self) -> list[int]:
        return sorted(set(self.houses.values()))

    def family_rows(self) -> dict[tuple[str, str | None], int]:
        """Closed-form row count of every family ``run_pipeline`` writes:
        households x steps / bucket, projects x steps / bucket, one row per
        household or (household, imputed column), and so on."""
        h, p, n = len(self.houses), len(self.projects), self.steps
        ncol = len(self.imputed_columns)
        rows = {
            ("household_default", None): h * n,
            ("household_diff_max_bounds", None): h,
            ("avg_diffs", None): p * n,
            ("household_imputed", None): h * n,
            ("impute_gap_stats", None): h * ncol,
            ("impute_summary_household", None): h * ncol,
            ("impute_summary_project", None): p * ncol,
            ("household_aggregated_diff", None): p * n,
            ("household_calculated", None): h * n,
        }
        for iv, per_bucket in INTERVAL_MIN_COUNT.items():
            rows[("household", iv)] = h * n // per_bucket
            rows[("project", iv)] = p * n // per_bucket
        return rows


def _house_ids() -> tuple[dict[int, int], int]:
    houses = {
        p * 100 + i: p
        for p, size in enumerate(PROJECT_SIZES, start=1)
        for i in range(1, size + 1)
    }
    excluded = 2 * 100 + PROJECT_SIZES[1] + 1  # data present, Meenemen=false
    return houses, excluded


def _increments(rng: np.random.Generator, n: int) -> np.ndarray:
    """5-minute consumption: a daily cycle plus noise, well below 2.0."""
    t = np.arange(n)
    daily = 0.5 + 0.5 * np.sin(2 * np.pi * (t % 288) / 288 - np.pi / 2)
    scale = rng.uniform(0.005, 0.03)
    return np.round(scale * (0.3 + daily) * rng.uniform(0.5, 1.5, n), 4)


def _plan_gaps(rng, houses: dict[int, int], cols: list[str], n: int):
    """Assign the gap scenarios to (house, column) pairs.

    Returns ``(plan, outlier, all_na)``: ``plan`` maps (house, column) to a
    list of (kind, start, stop); scenarios use distinct houses of project 1
    so they do not interact, except the project-wide outage in project 3.
    """
    p1 = [h for h, p in houses.items() if p == 1]
    order = list(rng.permutation(p1))
    outlier = int(order.pop())
    all_na_house = int(order.pop())
    plan: dict[tuple[int, str], list[tuple[str, int, int]]] = {}
    kinds = ["scaled", "reset", "flat", "zero_lead", "pos_lead", "trail", "spike"]
    for ci, col in enumerate(cols):
        for ki, kind in enumerate(kinds):
            house = int(order[(ci + ki) % len(order)])
            length = int(rng.integers(3, 48))
            if kind in ("zero_lead", "pos_lead"):
                start = 0
            elif kind == "trail":
                start = n - length
            else:
                start = int(rng.integers(n // 8, n - n // 8 - length))
            plan.setdefault((house, col), []).append((kind, start, start + length))
        # project-wide outage in project 3 -> project average absent
        start = int(rng.integers(n // 4, n // 2))
        length = int(rng.integers(6, 24))
        for h, p in houses.items():
            if p == 3:
                plan.setdefault((h, col), []).append(("outage", start, start + length))
    all_na = (all_na_house, cols[int(rng.integers(len(cols)))])
    return plan, outlier, all_na


def _cumulative(rng, n, scenarios, outlier: bool) -> tuple[np.ndarray, np.ndarray]:
    """(cumulative, diff) for one house/column; NaN where the meter is dark.
    The diff is the consecutive difference, NaN wherever either side is."""
    inc = _increments(rng, n)
    if outlier:
        inc = inc * 1000.0
    offset = float(np.round(rng.uniform(100.0, 5000.0), 3))
    nan = np.zeros(n, dtype=bool)
    reset_at = None
    for kind, a, b in scenarios:
        if kind == "zero_lead":
            offset = 0.0
            inc[: b + 1] = 0.0
        elif kind == "flat":
            inc[a : b + 1] = 0.0
        elif kind == "reset":
            reset_at = b
        elif kind == "spike":
            inc[a] = SPIKE
            continue
        nan[a:b] = True
    inc[0] = 0.0
    cum = offset + np.cumsum(inc)
    if reset_at is not None:
        cum[reset_at:] = np.cumsum(inc[reset_at:])
    cum = np.round(cum, 4)
    cum[nan] = np.nan
    diff = np.empty(n)
    diff[0] = np.nan
    diff[1:] = np.round(cum[1:] - cum[:-1], 4)
    return cum, diff


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_mapped(rng, inputs: Inputs) -> None:
    os.makedirs(inputs.mapped, exist_ok=True)
    n = inputs.steps
    dates = pa.array(
        T0.astype("datetime64[ns]") + np.arange(n) * np.timedelta64(STEP_S, "s"),
        pa.timestamp("ns"),
    )
    every = dict(inputs.houses)
    every[inputs.excluded_house] = 2
    plan, outlier, inputs.all_na = _plan_gaps(rng, inputs.houses, inputs.imputed_columns, n)
    outlier_col = inputs.imputed_columns[-1]
    for house in sorted(every):
        cols: dict[str, pa.Array] = {"ReadingDate": dates}
        for col in CUMULATIVE_COLUMNS:
            if (house, col) == inputs.all_na:
                cum = diff = np.full(n, np.nan)
            else:
                cum, diff = _cumulative(
                    rng, n, plan.get((house, col), ()),
                    outlier=(house == outlier and col == outlier_col),
                )
            cols[col] = pa.array(cum, pa.float64(), from_pandas=True)
            cols[f"{col}Diff"] = pa.array(diff, pa.float64(), from_pandas=True)
        for col, (lo, hi) in INSTANT_COLUMNS.items():
            cols[col] = pa.array(np.round(rng.uniform(lo, hi, n), 2))
        cols["HuisIdLeverancier"] = pa.array([f"LEV-{house:05d}"] * n)
        cols["ProjectIdLeverancier"] = pa.array([f"PRJ-{every[house]:03d}"] * n)
        for col in VALIDATE_COLUMNS:
            flags = rng.random(n)
            mask = flags > 0.995  # sprinkle NA
            cols[col] = pa.array(flags > 0.002, pa.bool_(), mask=mask)
        _write_parquet(
            pa.table(cols),
            os.path.join(inputs.mapped, f"household_{house}_table.parquet"),
        )
    ids = sorted(every)
    index = pa.table(
        {
            "HuisIdBSV": pa.array(ids, pa.int64()),
            "ProjectIdBSV": pa.array([every[h] for h in ids], pa.int64()),
            "Meenemen": pa.array([h != inputs.excluded_house for h in ids]),
            "Dataleverancier": pa.array([f"leverancier_{every[h]}" for h in ids]),
            "Oppervlakte": pa.array(np.round(rng.uniform(60.0, 160.0, len(ids)), 1)),
            "Weerstation": pa.array(
                [STATIONS[PROJECT_STATION[every[h]]].upper() for h in ids]
            ),
        }
    )
    _write_parquet(index, os.path.join(inputs.mapped, "index.parquet"))


def write_weather(rng, inputs: Inputs) -> None:
    """KNMI ``uurgeg`` exports: comment lines, the last one the header, HH
    1-24, T in 0.1 degC. A seeded 7-day cold snap and one missing day."""
    os.makedirs(inputs.weather, exist_ok=True)
    start = T0 - np.timedelta64(WEATHER_DAYS_BEFORE, "D")
    days = WEATHER_DAYS_BEFORE + inputs.days + WEATHER_DAYS_AFTER
    hours = start + np.arange(days * 24) * np.timedelta64(3600, "s")
    cold_day = int(rng.integers(0, days - 7))
    missing_day = int(rng.integers(0, WEATHER_DAYS_BEFORE))
    for stn in STATIONS:
        base = rng.uniform(20, 60)
        day_idx = np.arange(len(hours)) // 24
        temp = base + 40 * np.sin(2 * np.pi * (np.arange(len(hours)) % 24) / 24)
        temp = temp + rng.normal(0, 15, len(hours))
        temp = np.where((day_idx >= cold_day) & (day_idx < cold_day + 7), temp - 120, temp)
        fh = rng.integers(0, 120, len(hours))
        u = rng.integers(40, 100, len(hours))
        lines = [
            "# BRON: KONINKLIJK NEDERLANDS METEOROLOGISCH INSTITUUT (KNMI)\n",
            "# Synthetic hourly export for benchmarking.\n",
            "# STN,YYYYMMDD,   HH,    T,   FH,    U\n",
        ]
        for i, ts in enumerate(hours):
            if day_idx[i] == missing_day:
                continue
            d = ts.astype(object)
            lines.append(
                f"  {stn},{d:%Y%m%d},{d.hour + 1:5d},{int(round(temp[i])):5d},"
                f"{int(fh[i]):5d},{int(u[i]):5d}\n"
            )
        with open(os.path.join(inputs.weather, f"uurgeg_{stn}.txt"), "w") as fh_out:
            fh_out.writelines(lines)
    with open(inputs.stations, "w", newline="") as fh_out:
        w = csv.writer(fh_out)
        w.writerow(["ProjectIdBSV", "Weerstation", "Nummer"])
        for p in sorted(PROJECT_STATION):
            w.writerow([p, STATIONS[PROJECT_STATION[p]].lower(), PROJECT_STATION[p]])


STREAM_COLUMNS = [f"{c}Diff" for c in CUMULATIVE_COLUMNS[:10]]
LATE_SHARE = 0.03


def write_stream(rng, inputs: Inputs, hours: int) -> None:
    """Hourly fleet slices of the included houses' raw diffs, one file per
    hour; a ``LATE_SHARE`` of rows is delivered with the next hour's file
    (late, but within the streaming watermark). Modification times are set
    one second apart because the file source orders files by them."""
    os.makedirs(inputs.stream, exist_ok=True)
    houses = sorted(inputs.houses)
    values = {c: [] for c in STREAM_COLUMNS}
    for h in houses:
        t = pq.read_table(
            os.path.join(inputs.mapped, f"household_{h}_table.parquet"),
            columns=STREAM_COLUMNS,
        )
        for c in STREAM_COLUMNS:
            values[c].append(t.column(c).to_numpy(zero_copy_only=False))
    values = {c: np.stack(v) for c, v in values.items()}  # (house, step)
    steps_per_file = 12
    house_pos = np.repeat(np.arange(len(houses)), steps_per_file)
    slices: list[list[np.ndarray]] = [[] for _ in range(hours)]
    for k in range(hours):
        step = np.tile(np.arange(k * steps_per_file, (k + 1) * steps_per_file), len(houses))
        late = rng.random(len(step)) < LATE_SHARE if k + 1 < hours else np.zeros(len(step), bool)
        slices[k].append(np.stack([house_pos[~late], step[~late]]))
        if late.any():
            slices[k + 1].append(np.stack([house_pos[late], step[late]]))
    house_ids = np.array(houses, dtype=np.int64)
    project_ids = np.array([inputs.houses[h] for h in houses], dtype=np.int64)
    base = T0.astype("datetime64[us]")
    mtime0 = 1_700_000_000
    total = 0
    for k, parts in enumerate(slices):
        hp, ss = np.concatenate(parts, axis=1)
        total += len(ss)
        cols = {
            "ProjectIdBSV": pa.array(project_ids[hp]),
            "HuisIdBSV": pa.array(house_ids[hp]),
            "ReadingDate": pa.array(
                base + ss * np.timedelta64(STEP_S, "s"), pa.timestamp("us", tz="UTC")
            ),
        }
        for c in STREAM_COLUMNS:
            cols[c] = pa.array(values[c][hp, ss], pa.float64(), from_pandas=True)
        path = os.path.join(inputs.stream, f"delivery_{k:05d}.parquet")
        _write_parquet(pa.table(cols), path)
        os.utime(path, (mtime0 + k, mtime0 + k))
    inputs.stream_rows = total
    inputs.stream_files = hours


def generate(
    root: str,
    seed: int,
    days: int,
    stream_hours: int = 0,
) -> Inputs:
    """Write every input under ``root`` from ``seed``; same seed, same bytes."""
    rng = np.random.default_rng(seed)
    houses, excluded = _house_ids()
    inputs = Inputs(
        root=root,
        days=days,
        imputed_columns=list(IMPUTED_COLUMNS),
        houses=houses,
        excluded_house=excluded,
    )
    write_mapped(rng, inputs)
    write_weather(rng, inputs)
    if stream_hours:
        write_stream(rng, inputs, stream_hours)
    return inputs
