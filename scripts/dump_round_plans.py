#!/usr/bin/env python
"""Dump .explain("formatted") + the executed (AQE-final) physical plan
of headline queries into plans/<round>/<query>_<suffix>.txt.

Usage: python scripts/dump_round_plans.py <round> <suffix> [query ...]
(e.g. ``r17 before``; default queries: the bench.py headline set).
Each query is executed once with the noop sink first so the AQE-final
plan (join strategy rewrites, coalesced reads) is the one recorded —
the optimization round's before/after evidence.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ffiec_pq_spark import catalog
from ffiec_pq_spark.plans.audit import physical_plan
from ffiec_pq_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    round_dir, suffix = sys.argv[1], sys.argv[2]
    import bench

    names = sys.argv[3:] or (bench.HEADLINE + bench.HEAVY)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", round_dir,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("ffiec_pq_spark_plan_dump")
    queries = catalog.queries()
    for name in names:
        if name not in queries:
            print(f"skip {name}: not registered")
            continue
        spark.sparkContext.setJobDescription(f"plan_dump:{name}")
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        txt = (
            f"== {name} @ {sf_dir} ({suffix}) ==\n\n"
            "---- explain(formatted) ----\n"
            + buf.getvalue()
            + "\n---- executed plan (AQE final) ----\n"
            + physical_plan(df)
            + "\n"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{suffix}.txt")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
