#!/usr/bin/env python3
"""Compare two sets of full results (the JSON files a run writes under
``.perfbench_work/results/``), per workload and metric:

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Prints, per (workload, metric), each side's median and quartile spread
and the ratio of the medians.  Results recorded at different ``cpus``
are refused: a timing at 32 cores says nothing about one at 4.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _load(args: list[str]) -> list[dict]:
    paths = []
    for a in args:
        paths += sorted(glob.glob(os.path.join(a, "*_trace0.json"))) if os.path.isdir(a) else [a]
    return [json.load(open(p)) for p in paths]


def _summary(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = _load(argv[:cut]), _load(argv[cut + 1:])
    cpus = {r["env"]["cpus"] for r in base + new}
    if len(cpus) != 1:
        print(f"refusing to compare results recorded at cpus={sorted(cpus)}",
              file=sys.stderr)
        return 3
    rows = {}
    for side, results in (("base", base), ("new", new)):
        for r in results:
            for name, m in r["end_to_end"].items():
                rows.setdefault((r["workload"], name), {}).setdefault(side, []).append(
                    m["value"]
                )
    print(f"{'workload':18} {'metric':22} {'base':>12} {'spread':>7} "
          f"{'new':>12} {'spread':>7} {'new/base':>9}")
    for (w, name), sides in sorted(rows.items()):
        if "base" not in sides or "new" not in sides:
            continue
        (bm, bs), (nm, ns) = _summary(sides["base"]), _summary(sides["new"])
        ratio = nm / bm if bm else float("nan")
        print(f"{w:18} {name:22} {bm:12.4g} {bs:7.3f} {nm:12.4g} {ns:7.3f} {ratio:9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
