"""Rotation-prefix budget simulator (r12): print what the driver's 50-row
CORRECTNESS prefix will contain at HEAD — how many rows are STALE (no green
row certifies the query's current call-path fingerprint), whether they all
fit the prefix, and which green cohort fills the remainder.  The per-round
budget rule (VERDICT r11 task 4): stale + due must fit 50 or the overflow
slips a round; run this after an edit to see its cost BEFORE the driver
does.

Usage: python -m tools.rotation_sim [prefix_len]
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


def main() -> None:
    prefix_len = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    import __spark_entry__ as E

    ordered = list(E.queries())
    green = E._last_green_round(E._ROOT, E._current_fingerprints())
    stale = [n for n in ordered if n not in green]
    head = ordered[:prefix_len]
    in_head = [n for n in stale if n in head]
    print(f"{len(ordered)} queries; {len(stale)} stale/new rows")
    for n in stale:
        mark = "" if n in head else "  <-- SLIPS (outside prefix)"
        print(f"  stale: {n}{mark}")
    cohorts = Counter(green[n] for n in head if n in green)
    print(
        f"prefix[{prefix_len}]: {len(in_head)} stale + "
        f"{prefix_len - len(in_head)} green-due "
        f"(cohorts {dict(sorted(cohorts.items()))})"
    )
    overall = Counter(green.values())
    print(f"registry green-by-round: {dict(sorted(overall.items()))}")
    if len(in_head) < len(stale):
        raise SystemExit(1)


if __name__ == "__main__":
    main()
