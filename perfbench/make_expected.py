#!/usr/bin/env python3
"""Recompute ``expected.json``: the canonical hash of every query-workload
query, taken from its DuckDB oracle (``catalog.oracles()``) over the
generated tables.  Run from the repository root after changing the
generator (bump ``datagen.GENERATOR_VERSION``) or a workload's mix:

    python3 perfbench/make_expected.py

The benchmark runs never replay the oracles; they compare against the
stored hashes.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def main() -> int:
    import duckdb

    from check import canonical_hash
    from datagen import GENERATOR_VERSION, TABLES, ensure_dataset
    from ffiec_pq_spark import catalog
    from run import WORK, WORKLOADS

    oracles = catalog.oracles()
    out: dict = {}
    for cfg in WORKLOADS.values():
        if cfg["kind"] != "query":
            continue
        sf_dir = ensure_dataset(WORK, cfg["sf"])
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        key = f"v{GENERATOR_VERSION}_sf{cfg['sf']}"
        for name in cfg["queries"]:
            t0 = time.perf_counter()
            out.setdefault(key, {})[name] = list(
                canonical_hash(con.execute(oracles[name]).df())
            )
            print(f"{key} {name}: {out[key][name][0]} rows, "
                  f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
        con.close()
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
