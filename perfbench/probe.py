"""Spark status-store probe: per-call job, stage and task counts and
executor counters, read over py4j from the application's status store
(readable with ``spark.ui.enabled=false``).

A call owns the jobs submitted while it ran: the probe snapshots the
known job ids before the call and takes the new ids after it.  Job
groups would not work here, because the ingest's thread pools do not
inherit one.  The store keeps only the most recent jobs and stages
(1000 by default), so counters are read right after each call, once the
listener bus has drained.
"""

from __future__ import annotations

COUNTERS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class StatusProbe:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen: set[int] = set()

    def _job_ids(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def mark(self) -> None:
        """Snapshot the job ids that exist before a call."""
        self._seen = self._job_ids()

    def collect(self) -> tuple[dict, list[dict]]:
        """(counters, jobs) for the jobs submitted since :meth:`mark`.
        ``jobs`` holds each job's id and epoch-second interval."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        new = sorted(self._job_ids() - self._seen)
        self._seen |= set(new)
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = len(new)
        jobs, stage_ids = [], set()
        for jid in new:
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                jobs.append(
                    {
                        "job": jid,
                        "start": sub.get().getTime() / 1000.0,
                        "end": (done.get().getTime() if done.isDefined()
                                else sub.get().getTime()) / 1000.0,
                    }
                )
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["run_s"] += sd.executorRunTime() / 1000.0
            c["cpu_s"] += sd.executorCpuTime() / 1e9
            c["gc_s"] += sd.jvmGcTime() / 1000.0
            c["input_bytes"] += sd.inputBytes()
            c["output_bytes"] += sd.outputBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c, jobs


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
