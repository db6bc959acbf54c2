"""Compare two benchmark records (written by ``run.py --record``):

    python3 perfbench/compare.py parent.json change.json

Refuses, with exit code 2, when the two stamps differ: records taken
with another core count, master, Spark version, driver heap, seed,
run length or input size do not measure the same thing.  Otherwise
prints each metric of both records and their ratio.
"""

from __future__ import annotations

import json
import sys


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as f:
            records.append(json.load(f))
    a, b = records
    if a["stamp"] != b["stamp"]:
        diff = sorted(
            k for k in set(a["stamp"]) | set(b["stamp"])
            if a["stamp"].get(k) != b["stamp"].get(k)
        )
        print(f"refusing to compare: stamps differ in {diff}", file=sys.stderr)
        return 2
    for name, ma in a["metrics"].items():
        mb = b["metrics"].get(name)
        if mb is None:
            continue
        ratio = mb["value"] / ma["value"] if ma["value"] else float("nan")
        print(f"{name:<58} {ma['value']:>14.6g} {mb['value']:>14.6g} "
              f"{ratio:>8.3f} {ma['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
