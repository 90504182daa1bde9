"""Compare every family of two ``run_pipeline`` output folders.

Usage:
    python scripts/compare_families.py <out_a> <out_b>

Reads each ``<family>.parquet`` folder of both outputs with DuckDB and
checks, per family: the same schema (names, types and order), the same row
count, and the same values after sorting both sides by the family's keys.
Integers, booleans, strings, timestamps and arrays must be equal; floats
must agree within 1e-12 relative to the column's largest magnitude. That
scale, not each value's own, lets a sum that cancels to ~1e-19 carry the
summation-order noise of its operands: two runs whose files split
differently aggregate in a different order. Prints one line per family
and exits 1 on any difference.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

REL_TOL = 1e-12
# the key columns of every family, in sort order; the other non-float
# columns break any remaining ties
KEY_COLUMNS = ["ProjectIdBSV", "HuisIdBSV", "column", "ReadingDate"]
FLOAT_TYPES = {"DOUBLE", "FLOAT", "REAL"}
MAX_REPORTED = 5


def families(out: str) -> set[str]:
    return {
        name[: -len(".parquet")]
        for name in os.listdir(out)
        if name.endswith(".parquet") and os.path.isdir(os.path.join(out, name))
    }


def _scan(out: str, family: str) -> str:
    path = os.path.join(out, f"{family}.parquet")
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _floats_equal(a, b, scale: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b or abs(a - b) <= REL_TOL * scale


def _scale(rows: list[tuple], j: int) -> float:
    """Largest finite magnitude in column ``j``."""
    return max(
        (abs(r[j]) for r in rows if r[j] is not None and math.isfinite(r[j])),
        default=0.0,
    )


def compare_family(con, out_a: str, out_b: str, family: str) -> list[str]:
    """Differences between the two copies of one family (empty if none)."""
    schema_a = con.execute(f"DESCRIBE SELECT * FROM {_scan(out_a, family)}").fetchall()
    schema_b = con.execute(f"DESCRIBE SELECT * FROM {_scan(out_b, family)}").fetchall()
    schema_a = [(r[0], r[1]) for r in schema_a]
    schema_b = [(r[0], r[1]) for r in schema_b]
    if schema_a != schema_b:
        return [f"schema differs: {schema_a} != {schema_b}"]
    names = [n for n, _t in schema_a]
    is_float = [t in FLOAT_TYPES for _n, t in schema_a]
    keys = [c for c in KEY_COLUMNS if c in names]
    keys += [n for n, f in zip(names, is_float) if not f and n not in keys]
    order = ", ".join(f'"{k}"' for k in keys)
    rows_a = con.execute(f"SELECT * FROM {_scan(out_a, family)} ORDER BY {order}").fetchall()
    rows_b = con.execute(f"SELECT * FROM {_scan(out_b, family)} ORDER BY {order}").fetchall()
    if len(rows_a) != len(rows_b):
        return [f"row count differs: {len(rows_a)} != {len(rows_b)}"]
    scale = [
        max(_scale(rows_a, j), _scale(rows_b, j)) if f else 0.0
        for j, f in enumerate(is_float)
    ]
    problems = []
    for i, (ra, rb) in enumerate(zip(rows_a, rows_b)):
        for name, f, s, va, vb in zip(names, is_float, scale, ra, rb):
            same = _floats_equal(va, vb, s) if f else va == vb
            if not same:
                problems.append(f"row {i} column {name}: {va!r} != {vb!r}")
                if len(problems) >= MAX_REPORTED:
                    return problems
    return problems


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    out_a, out_b = argv
    fams_a, fams_b = families(out_a), families(out_b)
    failed = fams_a != fams_b
    if failed:
        print(f"family sets differ: only in a {sorted(fams_a - fams_b)}, "
              f"only in b {sorted(fams_b - fams_a)}")
    con = duckdb.connect()
    try:
        for family in sorted(fams_a & fams_b):
            problems = compare_family(con, out_a, out_b, family)
            print(f"{'DIFF' if problems else 'ok'} {family}")
            for p in problems:
                print(f"    {p}")
            failed = failed or bool(problems)
    finally:
        con.close()
    print("differences found" if failed else "all families equal")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
