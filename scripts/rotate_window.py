"""Rotate the driver's 50-query check window for the next round.

The driver hash-checks only the FIRST 50 keys of ``queries()`` per round
(observed in CORRECTNESS_r01). This helper rewrites the dict in
``__spark_entry__.py`` so that queries without a green driver row yet come
first (any red rows from the latest CORRECTNESS file lead, for re-check),
followed by never-driver-checked queries, then everything already green.

Usage:  python scripts/rotate_window.py CORRECTNESS_r02.json [CORRECTNESS_r01.json ...]
        (pass every CORRECTNESS_r*.json so far; order newest-first)
        [--prioritize name1,name2,...]  queries to lead the window right
        after red re-checks — VERDICT r13 #2: the rotation must point at
        the paths the round TOUCHED, not only at never-checked ones.

Idempotent and purely mechanical — run it at the start of each round, then
re-run `python tests/oracle_harness.py /root/testdata/sf0.01 --strict` and
the driver smoke before committing.
"""

from __future__ import annotations

import json
import os
import re
import sys

ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"
)
WINDOW = 50


def main(
    correctness_files: list[str],
    entry_path: str = ENTRY,
    telemetry_path: str | None = None,
    prioritize: list[str] | None = None,
) -> None:
    # Telemetry follows the entry file's directory unless overridden, so a
    # test invocation with a tmp entry_path never stomps the repo's own
    # TELEMETRY.md (VERDICT r12 "what's wrong" #1).
    if telemetry_path is None:
        telemetry_path = os.path.join(
            os.path.dirname(os.path.abspath(entry_path)), "TELEMETRY.md"
        )
    src = open(entry_path).read()
    m = re.search(
        r"def queries\(\) -> dict\[str, Callable\[\[SparkSession, str\], "
        r"DataFrame\]\]:\n    return \{\n(.*?)\n    \}\n",
        src,
        re.S,
    )
    if not m:
        raise SystemExit("queries() dict not found")
    pairs = re.findall(r'"([a-z0-9_]+)": (q_[a-z0-9_]+),', m.group(1))
    names = [p[0] for p in pairs]
    fn = dict(pairs)

    green: set[str] = set()
    green_age: dict[str, int] = {}  # 0 = confirmed in the newest round
    red: list[str] = []
    for i, path in enumerate(correctness_files):
        rows = json.load(open(path))
        for name, row in rows.items():
            # require affirmative True for every match key: a driver row
            # missing schema_match/hash_match (format change, partial check)
            # must never count as green
            ok = (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
                and not row.get("err")
            )
            if ok:
                green.add(name)
                if name not in green_age:  # files are newest-first
                    green_age[name] = i
            elif i == 0 and name not in red:
                red.append(name)  # newest round's failures lead
    # a red in the NEWEST round is an active regression and must lead the
    # window even if the query was green in some earlier round
    red = [n for n in red if n in fn]
    # touched-path priority (VERDICT r13 #2): queries whose operators this
    # round changed lead the window right after reds, regardless of green
    # staleness — the hard-signal channel must cover the rewrites first
    prio = [
        n for n in (prioritize or [])
        if n in fn and n not in red
    ]
    prio_set = set(prio)
    unchecked = [
        n for n in names
        if n not in green and n not in red and n not in prio_set
    ]
    # staleness rotation: among greens, the LONGEST-unconfirmed lead, so
    # every query keeps getting re-driver-checked on a bounded cadence
    # instead of r1-era greens never re-entering the window
    checked = sorted(
        (n for n in names if n in green and n not in red and n not in prio_set),
        key=lambda n: -green_age.get(n, 0),
    )
    order = red + prio + unchecked + checked
    assert sorted(order) == sorted(names)

    lines = [
        "        # --- driver check window (first %d keys): rotated by" % WINDOW,
        "        # scripts/rotate_window.py — reds first, then never-checked ---",
    ]
    for i, n in enumerate(order):
        if i == WINDOW:
            lines.append(
                "        # --- beyond the window: previously green or queued;"
            )
            lines.append(
                "        # all guarded by tests/oracle_harness.py --strict ---"
            )
        lines.append(f'        "{n}": {fn[n]},')
    new_src = src[: m.start(1)] + "\n".join(lines) + src[m.end(1) :]
    open(entry_path, "w").write(new_src)
    in_window = order[:WINDOW]
    print(f"window: {len([n for n in in_window if n in red])} red re-checks, "
          f"{len([n for n in in_window if n in prio_set])} touched-priority, "
          f"{len([n for n in in_window if n in unchecked])} first-checks")
    print("head:", ", ".join(order[:8]))
    print(f"remaining never-checked after this round: "
          f"{max(0, len(red) + len(unchecked) - WINDOW)}")

    # --- staleness telemetry (VERDICT r9 #6): post-rotation histogram of
    # "rounds since last driver confirmation", PROJECTED for the upcoming
    # round (the head-WINDOW slots will be confirmed by the next driver run,
    # so they count as age 0; everything else ages by one).
    n_files = len(correctness_files)
    hist: dict[str, int] = {}
    for n in names:
        if n in in_window:
            age = "next-round (in window)"
        elif n in green_age:
            age = f"{green_age[n] + 1} rounds stale"
        else:
            age = "never-checked (queued)"
        hist[age] = hist.get(age, 0) + 1

    def _k(item: tuple[str, int]) -> tuple[int, int]:
        a = item[0]
        if a.startswith("next"):
            return (0, 0)
        if a.startswith("never"):
            return (2, 0)
        return (1, int(a.split()[0]))

    print("\nstaleness after this rotation (projected post-driver-run):")
    tbl = ["| last driver confirmation | contracts |", "|---|---|"]
    for age, cnt in sorted(hist.items(), key=_k):
        print(f"  {age:28s} {cnt}")
        tbl.append(f"| {age} | {cnt} |")
    # Telemetry goes to a dedicated file and is REPLACED in place (VERDICT
    # r10 #4: appending to PLANS.md accumulated ~12 duplicate tables from
    # test/tool runs). TELEMETRY.md always holds exactly one table: the
    # latest rotation's histogram.
    try:
        with open(telemetry_path, "w") as f:
            f.write(
                "# Window rotation telemetry (latest rotation only;\n"
                "# rewritten in place by scripts/rotate_window.py)\n\n"
                f"### {n_files} CORRECTNESS files, window={WINDOW}, "
                f"total={len(names)}\n\n"
                + "\n".join(tbl) + "\n"
            )
        print("wrote histogram to TELEMETRY.md")
    except OSError as e:  # telemetry must never block the rotation itself
        print(f"TELEMETRY.md write skipped: {e}")


if __name__ == "__main__":
    argv = sys.argv[1:]
    prio: list[str] | None = None
    if "--prioritize" in argv:
        i = argv.index("--prioritize")
        prio = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2:]
    if not argv:
        raise SystemExit(__doc__)
    main(argv, prioritize=prio)
