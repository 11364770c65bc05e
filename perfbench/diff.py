#!/usr/bin/env python3
"""Ranks the layers of two traced runs by the change in their self time.

    python3 perfbench/diff.py BEFORE.json AFTER.json

Each argument is a ledger a traced run wrote
(``.bench_build/ledgers/<workload>-<seed>.json``). Prints each run's three
layers with the most self time, the per-pass self time of every layer in
both runs, largest absolute change first, then every per-layer metric that
changed, largest relative change first.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def rank(before, after):
    """[(layer, before_ms, after_ms)] ordered by |after - before|."""
    layers = sorted(set(before) | set(after))
    rows = [(k, before.get(k, 0.0), after.get(k, 0.0)) for k in layers]
    return sorted(rows, key=lambda r: -abs(r[2] - r[1]))


def top(ledger, n=3):
    """The ``n`` layers with the most self time: [(layer, ms, share)]."""
    total = sum(ledger["self_ms"].values()) or 1.0
    rows = sorted(ledger["self_ms"].items(), key=lambda kv: -kv[1])[:n]
    return [(k, v, v / total) for k, v in rows]


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    if a["workload"] != b["workload"]:
        print(f"note: comparing workload {a['workload']} with {b['workload']}")
    for tag, ledger in (("before", a), ("after", b)):
        named = ", ".join(f"{k} {v:.0f} ms ({share:.0%})" for k, v, share in top(ledger))
        print(f"{tag}: top layers by self time: {named}")
    print(f"\nself time per pass, ms ({a['workload']} seed {a['seed']} -> "
          f"{b['workload']} seed {b['seed']})")
    print(f"{'layer':<10} {'before':>10} {'after':>10} {'change':>10}")
    for k, x, y in rank(a["self_ms"], b["self_ms"]):
        print(f"{k:<10} {x:>10.1f} {y:>10.1f} {y - x:>+10.1f}")
    print("\nper-layer metrics that changed")
    changed = []
    for k in sorted(set(a["per_layer"]) | set(b["per_layer"])):
        x, y = a["per_layer"].get(k, 0.0), b["per_layer"].get(k, 0.0)
        if x != y:
            rel = (y - x) / abs(x) if x else float("inf")
            changed.append((k, x, y, rel))
    for k, x, y, rel in sorted(changed, key=lambda r: -abs(r[3])):
        print(f"{k:<26} {x:>12.3f} {y:>12.3f} {rel:>+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
