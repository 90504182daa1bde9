"""The generator is deterministic and its closed-form counts hold."""

from __future__ import annotations

import hashlib
import os

import duckdb

from etdbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, days=2, stream_hours=24)
    b = gen.generate(str(tmp_path / "b"), 7, days=2, stream_hours=24)
    c = gen.generate(str(tmp_path / "c"), 8, days=2, stream_hours=24)
    assert _digest(a.root) == _digest(b.root)
    assert _digest(a.root) != _digest(c.root)


def test_closed_form_counts_match_generated_data(tmp_path):
    inputs = gen.generate(str(tmp_path / "g"), 3, days=2, stream_hours=30)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW hh AS SELECT h.*, i.ProjectIdBSV FROM read_parquet("
        f"'{inputs.mapped}/household_*_table.parquet', filename = true) h "
        f"JOIN '{inputs.mapped}/index.parquet' i ON i.HuisIdBSV = CAST(regexp_extract("
        f"h.filename, 'household_(\\d+)_table', 1) AS BIGINT) WHERE i.Meenemen"
    )
    rows = inputs.family_rows()
    n = con.execute("SELECT count(*) FROM hh").fetchone()[0]
    assert n == rows[("household_default", None)]
    per_project = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT ProjectIdBSV, ReadingDate FROM hh)"
    ).fetchone()[0]
    assert per_project == rows[("avg_diffs", None)]
    for iv, minutes in [("15min", 15), ("60min", 60), ("6h", 360), ("24h", 1440)]:
        buckets = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT ProjectIdBSV, filename, "
            f"time_bucket(INTERVAL {minutes} MINUTE, ReadingDate) FROM hh)"
        ).fetchone()[0]
        assert buckets == rows[("household", iv)]
    excluded = con.execute(
        f"SELECT count(*) FROM hh WHERE filename LIKE '%household_{inputs.excluded_house}_%'"
    ).fetchone()[0]
    assert excluded == 0
    stream_rows = con.execute(
        f"SELECT count(*) FROM '{inputs.stream}/*.parquet'"
    ).fetchone()[0]
    assert stream_rows == inputs.stream_rows == len(inputs.houses) * 30 * 12
    assert len(os.listdir(inputs.stream)) == inputs.stream_files == 30
