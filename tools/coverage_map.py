#!/usr/bin/env python
"""Emit the registry coverage map: every registered query × (oracle
kind, latest driver round checked, green) from CORRECTNESS_r*.json.

Usage:  python tools/coverage_map.py            # markdown to stdout
        python tools/coverage_map.py COVERAGE.md  # write a file

No Spark session needed: the registry only registers callables/SQL at
import time.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_rows():
    from finance_data_pipeline_spark.registry import ORACLES, QUERIES

    rounds = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        with open(path) as f:
            rounds[int(m.group(1))] = json.load(f)

    rows = []
    for name in QUERIES:
        kind = "full" if name in ORACLES else "rows-only"
        checked, green = None, None
        for rnd in sorted(rounds):
            rec = rounds[rnd].get(name)
            if rec is None:
                continue
            checked = rnd
            if kind == "full":
                green = bool(rec.get("hash_match"))
            else:
                # rows-only designs record err:"no_oracle"; "green" means
                # the driver ran it and got rows without a real error.
                green = rec.get("err") in (None, "no_oracle")
        rows.append((name, kind, checked, green))
    return rows


def main() -> None:
    rows = build_rows()
    lines = [
        "# Registry coverage map",
        "",
        "Generated by `python tools/coverage_map.py` from the registry and",
        "`CORRECTNESS_r*.json`. `driver round` = latest round whose 50-query",
        "window included the query; `green` = hash-match in that round",
        "(rows-only designs: ran without error; they can never hash-match).",
        "",
        "| query | oracle | driver round | green |",
        "|---|---|---|---|",
    ]
    for name, kind, checked, green in rows:
        mark = {True: "yes", False: "NO"}.get(green, "—")
        lines.append(f"| {name} | {kind} | {checked if checked is not None else '—'} | {mark} |")

    n = len(rows)
    full = sum(1 for r in rows if r[1] == "full")
    checked = sum(1 for r in rows if r[2] is not None)
    green = sum(1 for r in rows if r[3] is True and r[1] == "full")
    lines += [
        "",
        f"**{n} queries** ({full} full-oracle, {n - full} rows-only); "
        f"{checked} driver-checked, {green} full-oracle driver-green.",
        "",
    ]
    out = "\n".join(lines)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            f.write(out)
        print(f"wrote {sys.argv[1]} ({n} queries)")
    else:
        print(out)


if __name__ == "__main__":
    main()
