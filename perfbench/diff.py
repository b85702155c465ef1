"""Rank the metric deltas between two run records, layer by layer.

  python3 perfbench/diff.py BEFORE.json AFTER.json [--top 10]

A record is the JSON ``run.py`` writes per run. Metrics are grouped by
layer (the part of the name before the first dot; end-to-end metrics
form their own group) and ranked by the size of their relative change.
"""

from __future__ import annotations

import argparse
import json
import sys


def load(path: str) -> dict[str, float]:
    with open(path) as f:
        rec = json.load(f)
    out = {f"end_to_end.{k}": v for k, v in rec["end_to_end"].items()}
    out.update(rec.get("per_layer", {}))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=10, help="rows per layer")
    args = ap.parse_args()
    a, b = load(args.before), load(args.after)
    layers: dict[str, list[tuple]] = {}
    for name in sorted(set(a) & set(b)):
        x, y = a[name], b[name]
        if x == y:
            continue
        rel = (y - x) / abs(x) if x else float("inf")
        layers.setdefault(name.split(".", 1)[0], []).append((abs(rel), name, x, y, rel))
    for layer, rows in sorted(layers.items(), key=lambda kv: -max(r[0] for r in kv[1])):
        print(f"[{layer}]")
        for _, name, x, y, rel in sorted(rows, reverse=True)[: args.top]:
            print(f"  {name:44s} {x:14.4f} -> {y:14.4f}  {rel:+8.1%}")
    only = sorted(set(a) ^ set(b))
    if only:
        print("in one record only:", ", ".join(only))
    return 0


if __name__ == "__main__":
    sys.exit(main())
