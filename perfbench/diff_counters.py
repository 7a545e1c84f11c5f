#!/usr/bin/env python3
"""Report-only counter differ: lists the op types whose deterministic
counters rose between a committed fixed-seed snapshot and a traced run.

    python3 perfbench/diff_counters.py perfbench/counters/mv-maintain.json \\
        .perfbench/out/mv-maintain-s1-t1.json

Both files may be a snapshot (`{"counters": {...}}` with op types as keys)
or a traced run's detail file, which carries the same `counters` object.
It always exits 0: it is a report, not a gate.
"""
import json
import sys

COUNTERS = ["spark.jobs", "spark.exchanges", "spark.scan_files",
            "txlog.bytes_written_per_tx", "mv.refresh_jobs"]


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d, d.get("counters", {})


def diff(old, new):
    """(op type, counter, old, new) for every counter that rose, plus the
    op types present on one side only."""
    rose, only_old, only_new = [], sorted(set(old) - set(new)), sorted(set(new) - set(old))
    for t in sorted(set(old) & set(new)):
        for c in COUNTERS:
            a, b = old[t].get(c, 0), new[t].get(c, 0)
            if b > a:
                rose.append((t, c, a, b))
    return rose, only_old, only_new


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    (od, old), (nd, new) = load(argv[1]), load(argv[2])
    for key in ("workload", "seed"):
        if od.get(key) != nd.get(key):
            print(f"note: {key} differs ({od.get(key)} vs {nd.get(key)}); "
                  "counts are only comparable for the same workload and seed")
    rose, only_old, only_new = diff(old, new)
    for t, c, a, b in rose:
        print(f"ROSE {t} {c}: {a:g} -> {b:g}")
    for t in only_old:
        print(f"GONE {t}")
    for t in only_new:
        print(f"NEW  {t}")
    print(f"{len({r[0] for r in rose})} op type(s) with a rising count, "
          f"{len(old)} in the snapshot, {len(new)} in the run")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
