"""Print the registry's correctness-staleness distribution.

The driver's per-round gate checks a ~50-entry prefix of queries(); the
ordering fronts never-green and stalest-last-green entries, so each
round's rotation target is "the oldest tail".  This report shows, from
the committed CORRECTNESS_r*.json files, how stale every entry is --
the table the round-planning step reads to see which entries the next
window will reach.

Usage: python scripts/stale_report.py [--list N]
  --list N   also list the entries whose last green round is among the
             N oldest distinct rounds (default: just the distribution)
"""

from __future__ import annotations

import os
import sys
from collections import Counter, defaultdict

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import __spark_entry__ as e  # noqa: E402


def main() -> None:
    history = {name: last for name, (last, _) in e._verified_history().items()}
    n_rounds = len(e._correctness_rounds())
    registry = set(e.load_all())
    never = sorted(registry - set(history))
    dist = Counter(history[n] for n in history if n in registry)
    print(f"registry: {len(registry)} entries; committed rounds: {n_rounds}")
    print(f"never green (new this round): {len(never)}")
    for n in never:
        print(f"   {n}")
    print("last-green distribution (round -> entries):")
    for r in sorted(dist):
        print(f"  r{r:02d}: {dist[r]}")

    n_oldest = 0
    if len(sys.argv) > 2 and sys.argv[1] == "--list":
        n_oldest = int(sys.argv[2])
    if n_oldest:
        by_round: dict[int, list[str]] = defaultdict(list)
        for name, r in history.items():
            if name in registry:
                by_round[r].append(name)
        for r in sorted(by_round)[:n_oldest]:
            print(f"\nlast green r{r} ({len(by_round[r])}):")
            for name in sorted(by_round[r]):
                print(f"   {name}")


if __name__ == "__main__":
    main()
