"""Unit test for the driver-window rotation tool (scripts/rotate_window.py):
reds lead, never-checked follow, and greens rotate by STALENESS (longest
since last driver confirmation first) so every query keeps re-entering the
50-key check window on a bounded cadence."""

from __future__ import annotations

import importlib.util
import json
import re
from pathlib import Path


def _load():
    spec = importlib.util.spec_from_file_location(
        "rotate_window",
        Path(__file__).resolve().parents[1] / "scripts" / "rotate_window.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ENTRY_TEMPLATE = '''\
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "red_q": q_red_q,
        "old_green": q_old_green,
        "new_green": q_new_green,
        "never_checked": q_never_checked,
        "mid_green": q_mid_green,
    }
'''


def _row(ok: bool) -> dict:
    return {
        "rows_match": ok, "schema_match": ok, "hash_match": ok,
        "err": None if ok else "boom",
    }


def test_staleness_rotation(tmp_path):
    entry = tmp_path / "entry.py"
    entry.write_text(ENTRY_TEMPLATE)
    # newest round: red_q red, new_green green
    (tmp_path / "r3.json").write_text(json.dumps(
        {"red_q": _row(False), "new_green": _row(True)}))
    # middle round: mid_green green
    (tmp_path / "r2.json").write_text(json.dumps({"mid_green": _row(True)}))
    # oldest round: old_green green (and red_q green back then — a red in
    # the NEWEST round must still lead even if green long ago)
    (tmp_path / "r1.json").write_text(json.dumps(
        {"old_green": _row(True), "red_q": _row(True)}))

    mod = _load()
    mod.main(
        [str(tmp_path / "r3.json"), str(tmp_path / "r2.json"),
         str(tmp_path / "r1.json")],
        entry_path=str(entry),
    )
    order = re.findall(r'"([a-z_]+)": q_', entry.read_text())
    assert order == [
        "red_q",           # red in the NEWEST round = active regression,
                           # leads even though it was green back in r1
        "never_checked",   # never driver-confirmed -> next
        "old_green",       # stalest green (r1)
        "mid_green",       # r2
        "new_green",       # freshest confirmation (r3) -> last
    ]


def test_missing_match_keys_not_green(tmp_path):
    """A driver row missing schema_match/hash_match (format change, partial
    check) must count as unchecked, never green."""
    entry = tmp_path / "entry.py"
    entry.write_text(ENTRY_TEMPLATE)
    (tmp_path / "r1.json").write_text(json.dumps({
        # rows_match only — half-checked row: NOT green
        "old_green": {"rows_match": True, "err": None},
        # fully affirmed -> green
        "new_green": _row(True),
    }))
    mod = _load()
    mod.main([str(tmp_path / "r1.json")], entry_path=str(entry))
    order = re.findall(r'"([a-z_]+)": q_', entry.read_text())
    # old_green's half-checked row leaves it in the never-checked bucket
    # (ahead of the confirmed green), not in the green tail
    assert order.index("old_green") < order.index("new_green")
    assert order[-1] == "new_green"


def test_telemetry_follows_entry_path(tmp_path):
    """Telemetry must land next to entry_path (or at an explicit override),
    never at the hardcoded repo path — a pytest run used to stomp the real
    /root/repo/TELEMETRY.md with the fixture's 5-contract histogram."""
    entry = tmp_path / "entry.py"
    entry.write_text(ENTRY_TEMPLATE)
    (tmp_path / "r1.json").write_text(json.dumps({"new_green": _row(True)}))
    mod = _load()
    mod.main([str(tmp_path / "r1.json")], entry_path=str(entry))
    assert (tmp_path / "TELEMETRY.md").exists()
    assert "total=5" in (tmp_path / "TELEMETRY.md").read_text()

    override = tmp_path / "elsewhere.md"
    mod.main([str(tmp_path / "r1.json")], entry_path=str(entry),
             telemetry_path=str(override))
    assert override.exists()
