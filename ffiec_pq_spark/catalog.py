"""Oracle-checked operator catalog.

Every operator from SURVEY.md §2 (plus the scale extensions) is exposed
here as a named query: a PySpark builder ``(spark, sf_dir) -> DataFrame``
and, where SQL-expressible, an equivalent ANSI-SQL string for the DuckDB
oracle.  ``__spark_entry__.py`` re-exports this registry to the driver.

Conventions (driver compares row-count + schema + order-insensitive
value hash, with columns sorted by name):

- every computed column is aliased identically on both sides;
- double-typed aggregates are ``round``-ed identically on both sides so
  floating summation order (parallel Spark vs sequential DuckDB) cannot
  flip the hash;
- timestamps are cast to ``date`` or truncated where exposed, and the
  Spark session runs in UTC (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import collections
import functools
import glob
import json
import os
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark_fn: QueryFn
    oracle: Optional[str]  # ANSI SQL for DuckDB; None -> rows-only check
    tags: list[str] = field(default_factory=list)


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Optional[str], tags: list[str] | None = None):
    """Decorator registering a query builder under ``name``.

    Duplicate names FAIL FAST: a silent overwrite means whichever
    module imports later wins and the earlier query's oracle/builder
    pair vanishes from certification without any signal (a round-10
    near-miss — a new module re-used an existing query name and the
    older module's registration clobbered the new one)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered by {_REGISTRY[name].spark_fn.__module__}"
            )
        _REGISTRY[name] = Query(name, fn, oracle, tags or [])
        return fn

    return deco


# The committed per-round driver certification records (repo root).
_CERT_GLOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "CORRECTNESS_r*.json",
)


@functools.cache
def _certification_counts() -> collections.Counter:
    """Rows per query name across every committed certification record
    (empty when none is present)."""
    counts: collections.Counter = collections.Counter()
    for path in glob.glob(_CERT_GLOB):
        with open(path) as fh:
            counts.update(json.load(fh).keys())
    return counts


def _ordered() -> dict[str, Query]:
    """Registry reordered least-certified first: external certification
    tooling samples the registry in insertion order, so the queries
    with the fewest recorded certification rows go first.  Ties (and
    everything, when no record is present) keep registration order."""
    counts = _certification_counts()
    return dict(sorted(_REGISTRY.items(), key=lambda kv: counts[kv[0]]))


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: q.spark_fn for name, q in _ordered().items()}


def oracles() -> dict[str, str]:
    _load_all()
    return {
        name: q.oracle for name, q in _ordered().items() if q.oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imported for their @register side effects.  Registration order
    # breaks ties in _ordered()'s least-certified-first order.
    from ffiec_pq_spark.queries import round15  # noqa: F401
    from ffiec_pq_spark.queries import round14b  # noqa: F401
    from ffiec_pq_spark.queries import round14  # noqa: F401
    from ffiec_pq_spark.queries import round13f  # noqa: F401
    from ffiec_pq_spark.queries import round13e  # noqa: F401
    from ffiec_pq_spark.queries import round13d  # noqa: F401
    from ffiec_pq_spark.queries import round13c  # noqa: F401
    from ffiec_pq_spark.queries import round13b  # noqa: F401
    from ffiec_pq_spark.queries import round13  # noqa: F401
    from ffiec_pq_spark.queries import round12b  # noqa: F401
    from ffiec_pq_spark.queries import round12  # noqa: F401
    from ffiec_pq_spark.queries import round11  # noqa: F401
    from ffiec_pq_spark.queries import round10  # noqa: F401
    from ffiec_pq_spark.queries import round9c  # noqa: F401
    from ffiec_pq_spark.queries import round9b  # noqa: F401
    from ffiec_pq_spark.queries import round9  # noqa: F401
    from ffiec_pq_spark.queries import round8  # noqa: F401
    from ffiec_pq_spark.queries import round6  # noqa: F401
    from ffiec_pq_spark.queries import round6b  # noqa: F401
    from ffiec_pq_spark.queries import tpch_fill  # noqa: F401
    from ffiec_pq_spark.queries import timeseries  # noqa: F401
    from ffiec_pq_spark.queries import linkage  # noqa: F401
    from ffiec_pq_spark.queries import lm  # noqa: F401
    from ffiec_pq_spark.queries import attribution  # noqa: F401
    from ffiec_pq_spark.queries import sparse_sim  # noqa: F401
    from ffiec_pq_spark.queries import tpch_extra  # noqa: F401
    from ffiec_pq_spark.queries import sketches  # noqa: F401
    from ffiec_pq_spark.queries import temporal  # noqa: F401
    from ffiec_pq_spark.queries import ffiec_shaped  # noqa: F401
    from ffiec_pq_spark.queries import multimodal  # noqa: F401
    from ffiec_pq_spark.queries import streaming_queries  # noqa: F401
    from ffiec_pq_spark.queries import curation  # noqa: F401
    from ffiec_pq_spark.queries import analytics  # noqa: F401
    from ffiec_pq_spark.queries import extensions  # noqa: F401
    from ffiec_pq_spark.queries import dedup  # noqa: F401
    from ffiec_pq_spark.queries import corpus_ops  # noqa: F401
    from ffiec_pq_spark.queries import text  # noqa: F401
    from ffiec_pq_spark.queries import similarity  # noqa: F401
    from ffiec_pq_spark.queries import reshape  # noqa: F401
    from ffiec_pq_spark.queries import integrity  # noqa: F401
    from ffiec_pq_spark.queries import core_relational  # noqa: F401
    # not a query module, but its resident memo must be registered
    # whenever the registry is loaded (resident.py contract)
    from ffiec_pq_spark.streaming import neardup  # noqa: F401

    _LOADED = True
