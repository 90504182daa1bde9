"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() in DuckDB over the same parquet tables, then
compare row count, column names, and an order-insensitive canonicalized
value multiset."""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# strict=True replicates the driver's canonicalizer: full-float-precision
# values (any cross-engine ULP difference fails) and a hard TypeError on
# list/dict-typed cells (the driver pandas-sorts result columns and crashes
# on unhashable values — round-1 impute_summary red row).
STRICT = False


def _canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if STRICT:
            return repr(v)
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, dict, set)):
        raise TypeError(
            f"unhashable type in result: {type(v).__name__} — the driver's "
            "pandas canonicalizer cannot sort/hash this; serialize the column"
        )
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v)) if STRICT else f"{float(v):.9g}"
    except ImportError:
        pass
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join(_canon_value(r[i]) for i in order) for r in rows
    )


def _dtype_class(dtype) -> str:
    import pandas.api.types as pt

    if pt.is_bool_dtype(dtype):
        return "bool"
    if pt.is_integer_dtype(dtype):
        return "int"
    if pt.is_float_dtype(dtype):
        return "float"
    if pt.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def _pandas_cells(df, cols_sorted):
    """Per-row canonical strings from a pandas frame, DTYPE-SENSITIVELY —
    this replicates the driver: an int64 1 stringifies as "1" but a float64
    1.0 as "1.0", so a DuckDB HUGEINT/DECIMAL output column (which pandas
    converts to float64) mismatches a Spark non-null bigint even when every
    value is numerically equal. The round-1/2 `sessionize`/`range_join`/
    `impute_linear_fill` driver reds were exactly this class; a fetchall()-
    based comparison (lossless Python ints) can never see it."""
    import pandas as pd

    series = []
    for c in cols_sorted:
        col = df[c]
        vals = []
        for v in col.tolist():
            if v is None or v is pd.NaT or v is pd.NA:
                vals.append("NULL")
            elif isinstance(v, (list, tuple)) or getattr(v, "ndim", 0):
                # toPandas hands ArrayType back as numpy arrays — the
                # driver's pandas canonicalizer cannot sort/hash these
                raise TypeError(
                    f"unhashable type in result: {type(v).__name__} — "
                    "serialize the column"
                )
            else:
                vals.append(_canon_value(v))
        series.append(vals)
    return sorted("|".join(cells) for cells in zip(*series))


def compare_query(spark, con, name, fn, sql, sf_dir):
    sdf = fn(spark, sf_dir)
    sp = sdf.toPandas()
    sp.columns = [c.lower() for c in sp.columns]
    rel = con.sql(sql)
    dp = rel.df()
    dp.columns = [c.lower() for c in dp.columns]

    problems = []
    if sorted(sp.columns) != sorted(dp.columns):
        problems.append(
            f"columns differ: spark={sorted(sp.columns)} duck={sorted(dp.columns)}"
        )
    if len(sp) != len(dp):
        problems.append(f"row count differs: spark={len(sp)} duck={len(dp)}")
    if problems:
        return problems
    cols = sorted(sp.columns)
    for c in cols:
        sc, dc = _dtype_class(sp[c].dtype), _dtype_class(dp[c].dtype)
        if sc != dc:
            problems.append(
                f"pandas dtype class differs for '{c}': spark={sp[c].dtype}"
                f" duck={dp[c].dtype} — driver canonicalizer will hash-mismatch"
            )
    if problems:
        return problems
    try:
        cs = _pandas_cells(sp, cols)
        cd = _pandas_cells(dp, cols)
    except TypeError as e:
        return [f"unhashable output: {e}"]
    if cs != cd:
        diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
        only_s = [r for r in cs if r not in set(cd)][:3]
        only_d = [r for r in cd if r not in set(cs)][:3]
        problems.append(
            f"values differ; first pair diffs={diffs} only_spark={only_s} only_duck={only_d}"
        )
    return problems


def run_all(sf_dir: str, only: list[str] | None = None, plain: bool = False):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    if plain:
        # driver parity: a bare SparkSession with NO get_spark() confs —
        # catches contract code that silently relies on session-factory
        # settings (the driver builds its own session)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
    else:
        from etdtransform_spark.session import get_spark

        spark = get_spark(
            "oracle-harness", master="local[8]", shuffle_partitions=8
        )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    failures = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = sqls.get(name)
        if sql is None:
            print(f"SKIP (no oracle): {name}")
            continue
        try:
            problems = compare_query(spark, con, name, fn, sql, sf_dir)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {str(e)[:500]}"]
        status = "OK" if not problems else "FAIL"
        print(f"{status}: {name}")
        for p in problems:
            print(f"    {p}")
        if problems:
            failures[name] = problems
    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries match")
    return failures


if __name__ == "__main__":
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    STRICT = "--strict" in flags
    sf = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    only = args[1].split(",") if len(args) > 1 else None
    failures = run_all(sf, only, plain="--plain" in flags)
    sys.exit(1 if failures else 0)
