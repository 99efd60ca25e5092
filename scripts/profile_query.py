#!/usr/bin/env python
"""Per-stage profile of one headline query (guide §1: measure first).

Runs the query like bench.py (noop sink; builder+sink cold, then warm
reps) in a ``get_spark`` session, then reads the application's status
store over py4j (readable with the UI disabled) and prints per-JOB and
per-STAGE wall/metrics for the last warm rep — the measurement that
tells you WHICH of a 70-exchange DAG's stages actually cost anything.

Usage: python scripts/profile_query.py <query> [warm_reps]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ffiec_pq_spark import catalog
from ffiec_pq_spark.session import get_spark


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ffiec_pq_spark_profile")
    sc = spark.sparkContext
    queries = catalog.queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def run():
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    cold = run()
    marks = []
    for _ in range(reps):
        seen = set(sc.statusTracker().getJobIdsForGroup(None))
        marks.append(run())
    print(f"\n=== {name}  cold={cold:.3f}s  warm={min(marks):.3f}s "
          f"(reps: {[round(m, 3) for m in marks]})")

    # jobs of the LAST warm rep only: the ids submitted while it ran
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    new = sorted(set(sc.statusTracker().getJobIdsForGroup(None)) - seen)
    print(f"--- {len(new)} jobs in last warm rep ---")
    tot = 0.0
    for jid in new:
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        dur = (
            (done.get().getTime() - sub.get().getTime()) / 1000.0
            if sub.isDefined() and done.isDefined()
            else 0.0
        )
        tot += dur
        ids = jd.stageIds()
        st_info = []
        for sid in sorted(ids.apply(i) for i in range(ids.size())):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            st_info.append(
                f"s{sid}[{sd.numCompleteTasks()}t "
                f"run={sd.executorRunTime() / 1000:.2f}s "
                f"in={sd.inputBytes() >> 10}K "
                f"sr={sd.shuffleReadBytes() >> 10}K "
                f"sw={sd.shuffleWriteBytes() >> 10}K "
                f"{sd.name()[:60]}]"
            )
        print(f"job {jid}: {dur:6.3f}s  {'; '.join(st_info)}")
    print(f"sum of job walls: {tot:.3f}s (gaps to warm total = driver/plan time)")
    spark.stop()


if __name__ == "__main__":
    main()
