"""Regenerate COVERAGE.md's driver-validation ledger from the
CORRECTNESS_r*.json record: one row per registry entry with the last
round the driver evaluated it and the result (the driver caps each round
at 50 entries and rotates, so "last green" IS the engine's regression
story).  Idempotent: rewrites only the text between the LEDGER markers.

Usage: python scripts/gen_coverage.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- LEDGER:BEGIN (scripts/gen_coverage.py) -->"
END = "<!-- LEDGER:END -->"


def build_ledger() -> str:
    import __spark_entry__ as se

    last: dict[str, tuple[int, str]] = {}
    rounds = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        rounds.append(rnd)
        for name, row in json.load(open(path)).items():
            if row.get("hash_match"):
                state = "oracle-green"
            elif row.get("err") == "no_oracle":
                state = f"rows-only ({row.get('spark_rows')} rows)"
            else:
                state = f"FAIL: {row.get('err') or 'mismatch'}"
            last[name] = (rnd, state)

    reg = se._registry()
    lines = [
        BEGIN,
        "",
        "## Driver validation ledger (generated — do not hand-edit)",
        "",
        f"One row per registry entry ({len(reg)} total); `last round` is the",
        f"most recent CORRECTNESS_r*.json (r{max(rounds)} newest) containing the",
        "entry — the driver caps each round at 50 entries and rotates, so",
        "older rounds remain the entry's standing evidence. `never` =",
        "registered after the latest driver run (next round picks it up via",
        "`__spark_entry__._PRIORITY`).",
        "",
        "| entry | last round | result |",
        "|---|---|---|",
    ]
    for name in reg:
        rnd, state = last.get(name, (None, "never (new this round)"))
        lines.append(f"| {name} | {'r%d' % rnd if rnd else '—'} | {state} |")
    n_green = sum(1 for r, s in last.values() if s == "oracle-green")
    lines += [
        "",
        f"Cumulative: {n_green} oracle-green entries on the driver record "
        f"across rounds {rounds}.",
        "",
        END,
    ]
    return "\n".join(lines)


def main() -> None:
    path = os.path.join(REPO, "COVERAGE.md")
    text = open(path).read()
    ledger = build_ledger()
    if BEGIN in text:
        pre = text.split(BEGIN)[0]
        post = text.split(END)[1]
        text = pre + ledger + post
    else:
        text = text.rstrip() + "\n\n" + ledger + "\n"
    open(path, "w").write(text)
    print("COVERAGE.md ledger regenerated")


if __name__ == "__main__":
    main()
