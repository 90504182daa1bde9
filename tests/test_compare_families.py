"""scripts/compare_families.py: equal outputs pass, float noise at the
column's scale passes, and a schema, row-count, key or value difference
fails."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

_SPEC = importlib.util.spec_from_file_location(
    "compare_families",
    Path(__file__).resolve().parents[1] / "scripts" / "compare_families.py",
)
compare_families = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(compare_families)

BASE = {
    "HuisIdBSV": [2, 1, 3],
    "v": [1.0, -1e-19, 0.5],
    "is_imputed": [True, False, None],
    "methods": [[1, 8], [], [64]],
}


def _write(out: Path, family: str, columns: dict) -> str:
    path = out / f"{family}.parquet"
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns), path / "part-0.parquet")
    return str(out)


def _run(tmp_path, changes: dict) -> int:
    a = _write(tmp_path / "a", "fam", BASE)
    b = _write(tmp_path / "b", "fam", {**BASE, **changes})
    return compare_families.main([a, b])


def test_equal_outputs_pass(tmp_path):
    assert _run(tmp_path, {}) == 0


def test_row_order_and_noise_at_column_scale_pass(tmp_path):
    a = _write(tmp_path / "a", "fam", BASE)
    b = _write(tmp_path / "b", "fam", {
        "HuisIdBSV": [1, 3, 2],
        "v": [2e-19, 0.5, 1.0 + 2e-16],
        "is_imputed": [False, None, True],
        "methods": [[], [64], [1, 8]],
    })
    assert compare_families.main([a, b]) == 0


def test_differences_fail(tmp_path):
    assert _run(tmp_path, {"v": [1.0, -1e-19, 0.5 + 1e-9]}) == 1
    assert _run(tmp_path, {"is_imputed": [True, False, False]}) == 1
    assert _run(tmp_path, {"methods": [[1, 8], [], [32]]}) == 1
    assert _run(tmp_path, {"v": [1, 0, 0]}) == 1  # type differs
    assert _run(tmp_path, {"HuisIdBSV": [2, 1, 4]}) == 1
    short = {k: v[:2] for k, v in BASE.items()}
    assert _run(tmp_path, short) == 1
