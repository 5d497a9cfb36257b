#!/usr/bin/env python3
"""Count Exchange nodes per key in two graft.PlanDump output dirs and
print the keys whose counts moved.

    python3 tools/plan_exchanges.py DIR_A DIR_B

Each dir holds PlanDump's `<key>_<suffix>.txt` files (the formatted explain
of AQE's final plan of the frame a key builds, after the frame has run; pins
made while building it ran before, and what ran inside them is not in the
plan); the suffix is the last `_`-separated token, shared by every file of a
dir. A node is counted once per `(N) <Name>` line of the plan's detail
section (subqueries included): `Exchange` (shuffle) and `BroadcastExchange`
separately. AQE's runtime changes are in these counts: an exchange AQE ran
once and read again is one `Exchange` plus a `ReusedExchange`, which neither
count includes, and a join AQE turned into a broadcast join keeps the
shuffles that ran before the switch.
Exit status 1 if any key's shuffle-exchange count rose.
"""
import os
import re
import sys
from collections import Counter

NODE = re.compile(r"^\(\d+\) (Exchange|BroadcastExchange)\b", re.M)


def load(d):
    files = [f for f in os.listdir(d) if f.endswith(".txt")]
    suffixes = {f[:-4].rsplit("_", 1)[-1] for f in files}
    if len(suffixes) != 1:
        sys.exit(f"{d}: expected one PlanDump suffix, found {sorted(suffixes)}")
    cut = len(suffixes.pop()) + 5  # "_<suffix>.txt"
    out = {}
    for f in files:
        with open(os.path.join(d, f), encoding="utf-8") as fh:
            out[f[:-cut]] = Counter(NODE.findall(fh.read()))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    only = sorted(set(a) ^ set(b))
    kinds = ["Exchange", "BroadcastExchange"]
    moved = []
    for key in sorted(set(a) & set(b)):
        deltas = [(k, a[key][k], b[key][k]) for k in kinds if a[key][k] != b[key][k]]
        if deltas:
            moved.append((key, deltas))
    for key, deltas in moved:
        print(f"{key:40s} " + "  ".join(f"{k} {x} -> {y}" for k, x, y in deltas))
    rose = [key for key, deltas in moved
            if any(k == "Exchange" and y > x for k, x, y in deltas)]
    totals = {k: (sum(c[k] for c in a.values()), sum(c[k] for c in b.values())) for k in kinds}
    print(f"{len(set(a) & set(b))} keys in both, {len(moved)} moved, "
          f"{len(rose)} with more shuffle exchanges; totals: "
          + ", ".join(f"{k} {x} -> {y}" for k, (x, y) in totals.items()))
    if only:
        print(f"in one dir only: {' '.join(only)}")
    sys.exit(1 if rose else 0)


if __name__ == "__main__":
    main()
