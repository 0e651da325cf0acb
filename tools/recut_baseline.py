#!/usr/bin/env python3
"""Re-cut BENCH_BASELINE.json as the per-key elementwise MIN of the existing
baseline and one or more battery BENCH_LOCAL.json files (the r13 provenance
rule: the regression gate's baseline only ever gets stricter, and only
certified load_ok=true batteries are merged).

Usage: recut_baseline.py BASELINE NEW_LOCAL [NEW_LOCAL ...]
Each NEW_LOCAL must sit next to the BENCH_LOAD.json its battery wrote, with
`_battery.load_ok` true; otherwise nothing is written and the exit code is 1.
Writes the merged baseline back to BASELINE (keys sorted for stable diffs).
"""
import json
import os
import sys


def certified(local_path: str) -> bool:
    """True when the battery that wrote `local_path` passed its load gate."""
    load_path = os.path.join(os.path.dirname(local_path), "BENCH_LOAD.json")
    try:
        with open(load_path) as f:
            battery = json.load(f).get("_battery")
    except (OSError, ValueError):
        return False
    return isinstance(battery, dict) and battery.get("load_ok") is True


def merge(base: dict, locals_: list) -> dict:
    """Per-key minimum of `base` and every battery; null timings skipped."""
    merged = dict(base)
    for local in locals_:
        for k, v in local.items():
            if v is None:
                continue
            cur = merged.get(k)
            merged[k] = float(v) if cur is None else min(float(cur), float(v))
    return {k: merged[k] for k in sorted(merged)}


def main(argv: list) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    base_path, new_paths = argv[0], argv[1:]
    refused = [p for p in new_paths if not certified(p)]
    if refused:
        for p in refused:
            print(f"refused {p}: sibling BENCH_LOAD.json lacks _battery.load_ok = true",
                  file=sys.stderr)
        return 1
    with open(base_path) as f:
        base = json.load(f)
    locals_ = []
    for p in new_paths:
        with open(p) as f:
            locals_.append(json.load(f))
    out = merge(base, locals_)
    with open(base_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"baseline keys: {len(out)}  sum: {sum(out.values()):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
