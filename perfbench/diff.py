#!/usr/bin/env python3
"""Compare two run records by the counters that do not depend on the host.

    python3 perfbench/run.py --workload W --seed N --seconds 1 --trace 1 --record a.json
    ... change the program, rebuild happens on the next run ...
    python3 perfbench/run.py --workload W --seed N --seconds 1 --trace 1 --record b.json
    python3 perfbench/diff.py a.json b.json

Prints, per call and per layer, only the counters that moved: jobs, tasks,
stages, shuffle, read and written bytes and records, pins and pinned bytes.
Times are left out on purpose: on a shared host they move between two runs
of the same commit. Counters are taken from each record's first pass; use
the same seed for both runs, since the inputs depend on it.
"""
import json
import sys

COUNTERS = ["jobs", "tasks", "stages", "one_task_stages", "shuffle_write_bytes",
            "shuffle_read_bytes", "input_bytes", "input_records", "output_bytes",
            "spill_bytes", "schema_jobs", "pin_jobs"]
PINS = ["pins", "stored_bytes", "disk_bytes"]


def per_call(rec):
    out = {}
    for c in rec["calls"]:
        if c["pass"] != 0:
            continue
        row = {}
        for phase in ("build", "run"):
            s = rec["slots"].get(f"0/{c['index']}/{phase}", {})
            for k in COUNTERS:
                row[f"{phase}.{k}"] = s.get(k, 0)
        for k in PINS:
            row[k] = c[k]
        out[c["key"]] = row
    return out


def per_layer(rec, calls):
    out = {}
    for key, row in calls.items():
        layer = out.setdefault(rec["layer"].get(key, "?"), {})
        for k, v in row.items():
            layer[k] = layer.get(k, 0) + v
    return out


def moved(title, a, b):
    lines = []
    for name in sorted(set(a) | set(b)):
        ra, rb = a.get(name, {}), b.get(name, {})
        for k in sorted(set(ra) | set(rb)):
            va, vb = ra.get(k, 0), rb.get(k, 0)
            if va != vb:
                pct = f"{100.0 * (vb - va) / va:+.1f}%" if va else "new"
                lines.append(f"  {name:24s} {k:28s} {va:>14} -> {vb:<14} {pct}")
    print(f"{title}: {len(lines)} counters moved")
    for line in lines:
        print(line)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in sys.argv[1:])
    if (a.get("workload"), a.get("seed")) != (b.get("workload"), b.get("seed")):
        print(f"note: comparing {a.get('workload')} seed {a.get('seed')} "
              f"with {b.get('workload')} seed {b.get('seed')}")
    ca, cb = per_call(a), per_call(b)
    moved("per call", ca, cb)
    moved("per layer", per_layer(a, ca), per_layer(b, cb))


if __name__ == "__main__":
    main()
