"""Resident (per-session, per-dataset) state: one memo type for all of it.

The engine reuses expensive one-time builds across queries — trained
models (PCA / k-means-PQ / linear probe), maintained stream state
(BM25 postings, near-dup band state, incremental cluster corpus
state), shared relations (component labels) and loaded frames.  Every
such cache is a :class:`Memo`; the invalidation and eviction contract
lives in its docstring, and :func:`clear_all_resident_state` /
:func:`resident_state_report` cover every memo because each one
registers itself by name when it is created.  Importing
:mod:`ffiec_pq_spark.catalog` (which loads every query module) creates
them all.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import types
from typing import Any, Callable

_MEMOS: dict[str, "Memo"] = {}
_MISSING = object()


def _workdir(value) -> str | None:
    """The backing directory of a memo value: a state dict's
    ``workdir`` or a plain path string; ``None`` for in-memory
    values (models, DataFrames)."""
    if isinstance(value, dict):
        return value.get("workdir")
    if isinstance(value, str) and os.path.sep in value:
        return value
    return None


def _drop_workdir(value) -> None:
    """The default :class:`Memo` drop: delete the value's backing
    directory, if it has one."""
    wd = _workdir(value)
    if wd:
        shutil.rmtree(wd, ignore_errors=True)


def _drop_each(drop: Callable[[Any], None], values) -> None:
    """Run ``drop`` on every value, then re-raise the first failure."""
    errors: list[BaseException] = []
    for v in values:
        try:
            drop(v)
        except BaseException as exc:  # noqa: BLE001 — drop the rest, then raise
            errors.append(exc)
    if errors:
        raise errors[0]


def _supersedes(new, old) -> bool:
    """Whether storing key ``new`` makes the entry under ``old``
    unreachable: a different non-``None`` application id (classic
    PySpark runs one live SparkContext per process, so the other id
    belongs to a stopped one), or the same abspath under a different
    on-disk fingerprint (the dataset was rewritten)."""
    if not (isinstance(new, tuple) and isinstance(old, tuple)):
        return False
    if new[0] is not None and old[0] is not None and new[0] != old[0]:
        return True
    return (
        len(new) >= 3 and len(old) >= 3
        and old[1] == new[1] and old[2] != new[2]
    )


class Memo(dict):
    """A resident memo: a ``dict`` registered under ``name`` with the
    resident registry.

    Keys follow :func:`ffiec_pq_spark.session.dataset_key`:
    ``(app_id or None, abspath, fingerprint, *extra)``.  ``app_id`` is
    ``None`` for driver-side values that outlive sessions (trained
    weights); the fingerprint is the dataset's on-disk identity, so an
    in-place rewrite changes the key and the next call rebuilds.
    Other tuple keys must still start with the app id (or ``None``).

    Every store (``memo[key] = value``, which :meth:`get_or_build`
    uses on a miss) first evicts the entries the new key makes
    unreachable: those under a different non-``None`` app id (a
    stopped SparkContext) and those for the same abspath under a
    different fingerprint (a rewritten dataset).  Evicted entries and
    :meth:`clear` both run ``drop`` on the value; the default removes
    the value's backing directory (``value["workdir"]`` or a path
    string), which is also what :func:`resident_state_report` counts
    as disk bytes.  Storing under an existing key replaces the value
    without dropping it.  A hit is one dict lookup; eviction runs only
    on stores.

    :meth:`get_or_build` counts its traffic for the report: ``hits``,
    ``misses`` and ``build_s`` (seconds spent in builds, including
    failed ones).  The counters cover the process's lifetime and
    survive :meth:`clear`; direct dict access is not counted."""

    def __init__(self, name: str, drop: Callable[[Any], None] = _drop_workdir):
        super().__init__()
        self.name = name
        self.drop = drop
        self.hits = self.misses = 0
        self.build_s = 0.0
        # the ingest's group threads share memos
        self._count_lock = threading.Lock()
        _MEMOS[name] = self

    def __setitem__(self, key, value) -> None:
        stale = [k for k in self if k != key and _supersedes(key, k)]
        dropped = [self.pop(k) for k in stale]
        super().__setitem__(key, value)
        _drop_each(self.drop, dropped)

    def get_or_build(self, key, build: Callable[[], Any]):
        """The value under ``key``, building and storing it on a miss."""
        value = self.get(key, _MISSING)
        if value is not _MISSING:
            with self._count_lock:
                self.hits += 1
            return value
        t0 = time.perf_counter()
        try:
            value = build()
        finally:
            with self._count_lock:
                self.misses += 1
                self.build_s += time.perf_counter() - t0
        self[key] = value
        return value

    def clear(self) -> None:
        """Drop every entry; if a drop raises, the rest still run and
        the first error re-raises once the memo is empty."""
        values = list(self.values())
        super().clear()
        _drop_each(self.drop, values)


def registered_memos() -> types.MappingProxyType:
    """Read-only live view of the registry (name -> :class:`Memo`)."""
    return types.MappingProxyType(_MEMOS)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def resident_state_report(spark=None) -> dict:
    """AUDIT the resident-state footprint: per registered memo, the
    entry count, the on-disk bytes of its values' backing directories
    and its :meth:`Memo.get_or_build` counters (``hits``, ``misses``,
    ``build_s``); plus, when a session is passed, the Spark storage
    totals (memory + disk bytes of every cached/checkpointed RDD via
    the storage-status API — the memoized ``localCheckpoint``
    relations live there).

    Disk bytes are exact and freed synchronously by :meth:`Memo.clear`
    (the hardening test pins that); Spark storage for checkpointed
    relations is released by the context cleaner once the cleared
    Python references are collected — asynchronous by Spark's design,
    so the report exposes it for monitoring rather than asserting it
    zero after a clear."""
    report: dict = {}
    for name in sorted(_MEMOS):
        memo = _MEMOS[name]
        disk = 0
        for v in memo.values():
            wd = _workdir(v)
            if wd and os.path.isdir(wd):
                disk += _dir_bytes(wd)
        report[name] = {
            "entries": len(memo), "disk_bytes": disk,
            "hits": memo.hits, "misses": memo.misses, "build_s": memo.build_s,
        }
    if spark is not None:
        mem = dsk = n = 0
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
            n += 1
            mem += info.memSize()
            dsk += info.diskSize()
        report["_spark_storage"] = {
            "cached_rdds": n,
            "mem_bytes": int(mem),
            "disk_bytes": int(dsk),
        }
    return report


def clear_all_resident_state() -> list[str]:
    """Clear EVERY registered memo (models, stream state, shared
    relations) and return the names cleared, sorted.  ``memo.clear()``
    remains for targeted invalidation.

    A memo whose clear raises does not stop the sweep — every
    remaining memo is still cleared, then the first error re-raises
    (a half-cleared session is worse than a reported failure)."""
    errors: list[BaseException] = []
    cleared: list[str] = []
    for name in sorted(_MEMOS):
        try:
            _MEMOS[name].clear()
            cleared.append(name)
        except BaseException as exc:  # noqa: BLE001 — resweep then raise
            errors.append(exc)
    if errors:
        raise errors[0]
    return cleared


def _unpersist(df) -> None:
    try:
        df.unpersist()
    except Exception:  # session may already be stopped
        pass


_TRACKED_PERSISTS = Memo("query_persists", drop=_unpersist)


def tracked_persist(df):
    """``df.persist()`` + registration under the resident registry:
    per-query lazy builders persist shared sub-relations (a fused arm
    feeding several consumers in one plan) without a natural
    self-unpersist point.  Tracking the reference puts them under
    :func:`clear_all_resident_state` and the footprint report's entry
    count (their bytes appear in the report's ``_spark_storage``
    totals).

    The reference is keyed on (application id, analyzed-plan
    ``semanticHash``) — the ``session.spread`` probe key — so a warm
    serve that re-persists an identical plan (Spark keeps the one
    cache entry) replaces its reference instead of adding one."""
    out = df.persist()
    key = (
        out.sparkSession.sparkContext.applicationId,
        out._jdf.queryExecution().analyzed().semanticHash(),
    )
    _TRACKED_PERSISTS[key] = out
    return out
