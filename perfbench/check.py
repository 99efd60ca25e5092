"""Canonical hash of a query result, computed the same way from a Spark
result and from the DuckDB oracle's result.

Both sides go through pandas and the registry's certification
canonicalizer, ``scripts/driver_check.canon`` (columns sorted by name,
rows sorted by every column, cells stringified with dates and NULLs
normalized); the hash is the sha256 of the column names and those
rows.  ``(rows, digest)`` is what ``expected.json`` stores.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from driver_check import canon  # noqa: E402


def canonical_hash(pdf) -> tuple[int, str]:
    """``(row count, digest)`` of the pandas frame ``pdf``, independent
    of row order, column order and the engine that produced it."""
    rows, err = canon(pdf)
    if err:
        raise ValueError(err)
    payload = json.dumps([sorted(map(str, pdf.columns)), rows])
    return len(rows), hashlib.sha256(payload.encode()).hexdigest()[:16]
