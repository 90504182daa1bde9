"""Oracle output-type contract: every oracle_sql() result column must bind
to a DuckDB type that pandas converts to the SAME dtype class Spark's
toPandas() produces for the matching query column.

Why this gate exists (round-3 root cause of the r1+r2 driver reds): the
driver's correctness canonicalizer is pandas-dtype-sensitive — an int64 1
stringifies as "1" but a float64 1.0 as "1.0". Three DuckDB type families
silently land in pandas as a DIFFERENT class than their Spark twin even
when every value is equal:

- HUGEINT (any un-cast integer ``sum()``, windowed or grouped) → float64,
  while Spark's non-null bigint → int64. This alone explained the
  `sessionize` / `impute_linear_fill` / `range_join` reds (`session_id`,
  `cvg`) and five latent never-checked reds (profile_table,
  priority_shipping, cumulative_distinct, vocab_growth, session_paths).
- DECIMAL → float64 today, but object(Decimal) under other converter
  versions; Spark emits plain float64.
- DATE → datetime64 ("2023-01-05T00:00:00"), while Spark DateType →
  object(datetime.date) ("2023-01-05") (set_ops, period_over_period,
  longest_streak, degree_days, rolling_active_users — all caught by the
  round-3 pandas-dtype harness sweep before ever entering the window).

The rule: oracle outputs may only use BIGINT/INTEGER-class ints, DOUBLE/
FLOAT, VARCHAR, BOOLEAN, TIMESTAMP. Cast everything else at the output
projection. This binds WITHOUT executing the queries, so the whole sweep
is seconds.
"""

from __future__ import annotations

import sys

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

BANNED_EXACT = {
    "HUGEINT", "UHUGEINT", "DATE",
    "TINYINT", "SMALLINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
BANNED_PREFIX = ("DECIMAL",)


def _flagged_columns():
    import __spark_entry__ as em

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{SF_DIR}/{t}.parquet'")
    flagged = {}
    for name, sql in em.oracle_sql().items():
        rel = con.sql(sql)
        bad = [
            (c, str(ty))
            for c, ty in zip(rel.columns, rel.types)
            if str(ty) in BANNED_EXACT or str(ty).startswith(BANNED_PREFIX)
        ]
        if bad:
            flagged[name] = bad
    return flagged


def test_no_pandas_dtype_divergent_oracle_outputs():
    flagged = _flagged_columns()
    assert not flagged, (
        "oracle output columns with pandas-dtype-divergent DuckDB types "
        f"(cast to BIGINT/DOUBLE/TIMESTAMP at the output projection): {flagged}"
    )


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
