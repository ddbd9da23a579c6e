#!/usr/bin/env python3
"""Compare two stamped benchmark records (written by `run.py --out`).

    python3 perfbench/compare.py BASE.json CHANGE.json

Refuses, with exit code 2, when the stamps differ: another workload, size,
seed, trace mode, core count, driver heap, Spark version, edge count or
broadcast budget, or CPU calibrations more than 15% apart. Otherwise
prints each metric of both records and the change's ratio to the base.
"""

from __future__ import annotations

import json
import sys

import stamp as stamp_mod


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    recs = []
    for path in argv:
        with open(path) as fh:
            recs.append(json.load(fh))
    base, change = recs
    why = stamp_mod.mismatches(base["stamp"], change["stamp"])
    if why:
        print("refusing to compare: stamps differ", file=sys.stderr)
        for line in why:
            print("  " + line, file=sys.stderr)
        return 2
    for name, m in base["table"].items():
        other = change["table"].get(name)
        if other is None:
            continue
        ratio = other["value"] / m["value"] if m["value"] else float("nan")
        print(f"{name:<24} {m['value']:>12.4f} {other['value']:>12.4f} {m['unit']:<6} x{ratio:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
