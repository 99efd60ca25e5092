"""Seeded FFIEC bulk-zip generator for the ``etl_ingest`` workload.

One quarter's "All Schedules" zip with:

- ``n_schedules`` schedules, each split into ``n_parts`` multipart
  members with disjoint item columns (the multipart combine path);
- item types cycling double / int / string / bool, so the ingest writes
  four type-partitioned long tables;
- seeded NULL cells (``NULL_FRAC``), written as the two NULL tokens
  ``""`` and ``CONF``;
- one item carried by two schedules with the same value per bank, which
  the long build must collapse to one fact (``collect_set``);
- in half of the schedules, one member with a seeded share
  (``MALFORMED_FRAC``) of malformed rows: a string field holding an
  embedded newline, and an extra tab in the member's last (string)
  column.  Both force the reader's repair path, and both repair back to
  a known value;
- a POR member with one row per bank.

Besides the zip it returns the exact facts the ingest must produce, so
the workload can check the long tables cell by cell.
"""

from __future__ import annotations

import os
import zipfile
from dataclasses import dataclass, field
from datetime import date

import numpy as np
import pyarrow as pa

DATE_TOKEN = "03312024"
REPORT_DATE = date(2024, 3, 31)
SHARED_ITEM = "RCFD2200"
NULL_FRAC = 0.1
MALFORMED_FRAC = 0.005
# type char -> long-table name the ingest writes for it, and its value type
LONG_NAME = {"d": "float", "i": "int", "c": "str", "l": "bool"}
VALUE_TYPE = {"d": pa.float64(), "i": pa.int32(), "c": pa.string(), "l": pa.bool_()}
TYPE_CYCLE = "dicl"
POR_HEADER = [
    "IDRSSD",
    "Financial Institution Name",
    "Financial Institution State",
    "FDIC Certificate Number",
    "OCC Charter Number",
    "Primary ABA Routing Number",
    "Last Date/Time Submission Updated On",
]
STATES = ["IA", "NY", "TX", "CA", "OH", "WA"]


@dataclass
class BulkZip:
    path: str
    type_dict: dict[str, str]
    cells: int
    zip_bytes: int
    n_banks: int
    # long-table name -> table of (IDRSSD, item, value), one row per fact
    facts: dict[str, pa.Table] = field(default_factory=dict)
    # lower-case schedule name -> repair tags its log row must carry
    repairs: dict[str, list[str]] = field(default_factory=dict)
    malformed_rows: int = 0


def _row(vals) -> str:
    # FFIEC rows end with a tab, so every real row boundary is
    # tab-adjacent and only embedded newlines are not
    return "\t".join(vals) + "\t"


def _column(rng, tchar: str, banks: np.ndarray, j: int) -> tuple[list[str], list]:
    """(texts as written, typed values the ingest must produce; None
    where the cell is NULL) for one item column."""
    n = len(banks)
    if tchar == "d":
        raw = rng.integers(0, 10**8, n)
        vals = (raw / 100.0).tolist()
        texts = [f"{v:.2f}" for v in vals]
    elif tchar == "i":
        vals = rng.integers(-50_000, 2_000_000, n).tolist()
        texts = [str(v) for v in vals]
    elif tchar == "l":
        vals = (rng.integers(0, 2, n) == 1).tolist()
        texts = ["true" if v else "false" for v in vals]
    else:
        vals = [f"v{b}_{j}_{r}" for b, r in zip(banks.tolist(), rng.integers(0, 10**6, n).tolist())]
        texts = list(vals)
    nulls = np.flatnonzero(rng.random(n) < NULL_FRAC)
    tokens = rng.integers(0, 2, len(nulls))
    for r, tok in zip(nulls.tolist(), tokens.tolist()):
        texts[r], vals[r] = ("", "CONF")[tok], None
    return texts, vals


def make_bulk_zip(
    dir_: str,
    seed: int,
    n_banks: int,
    n_items: int,
    n_parts: int,
    n_schedules: int,
) -> BulkZip:
    """Write the zip into ``dir_`` and return it with its expected
    facts.  ``n_items`` columns per schedule; ``cells`` counts every
    (bank, schedule column) cell, NULL or not."""
    if n_items < 2 * n_parts or n_schedules < 2:
        raise ValueError("need two items per part and two schedules")
    rng = np.random.default_rng(seed)
    path = os.path.join(dir_, f"FFIEC CDR Call Bulk All Schedules {DATE_TOKEN}.zip")
    banks = np.arange(10_001, 10_001 + n_banks)
    ids = [str(b) for b in banks.tolist()]
    type_dict: dict[str, str] = {SHARED_ITEM: "d"}
    # type char -> (IDRSSD, item, value) column lists
    facts = {t: ([], [], []) for t in LONG_NAME}
    out = BulkZip(path, type_dict, 0, 0, n_banks)

    def add_facts(item: str, vals: list) -> None:
        keep = [r for r, v in enumerate(vals) if v is not None]
        f = facts[type_dict[item]]
        f[0].extend(banks[keep].tolist())
        f[1].extend([item] * len(keep))
        f[2].extend(vals[r] for r in keep)

    shared = _column(rng, "d", banks, 0)
    add_facts(SHARED_ITEM, shared[1])
    bad_scheds = set(
        int(s) for s in rng.choice(n_schedules, n_schedules // 2, replace=False)
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for s in range(n_schedules):
            sched = f"RC{chr(ord('A') + s)}"
            items = [f"RCON{3000 + s * n_items + j}" for j in range(n_items)]
            for j, it in enumerate(items):
                type_dict[it] = TYPE_CYCLE[j % len(TYPE_CYCLE)]
            per_part = (n_items + n_parts - 1) // n_parts
            bad_part = int(rng.integers(0, n_parts)) if s in bad_scheds else -1
            out.repairs[sched.lower()] = (
                ["newline-gsub", "tab-repair"] if s in bad_scheds else []
            )
            for p in range(n_parts):
                cols = items[p * per_part:(p + 1) * per_part]
                # the last column is a string, so the extra-tab repair
                # (which folds surplus fields into the last one) is exact
                last_c = next(c for c in reversed(cols) if type_dict[c] == "c")
                cols.remove(last_c)
                cols.append(last_c)
                columns = {
                    c: _column(rng, type_dict[c], banks, j) for j, c in enumerate(cols)
                }
                if p == 0 and s < 2:
                    cols.insert(0, SHARED_ITEM)
                    columns[SHARED_ITEM] = (list(shared[0]), shared[1])
                if p == bad_part:
                    first_c = next(c for c in cols if type_dict[c] == "c")
                    k = max(2, int(round(n_banks * MALFORMED_FRAC)))
                    for n_bad, r in enumerate(rng.choice(n_banks, k, replace=False).tolist()):
                        b = int(banks[r])
                        if n_bad % 2:
                            col, text, val = first_c, f"n{b} ab\ncd", f"n{b} ab cd"
                        else:
                            col, text, val = last_c, f"t{b} ab\tcd", f"t{b} ab cd"
                        columns[col][0][r], columns[col][1][r] = text, val
                    out.malformed_rows += k
                for c in cols:
                    if c != SHARED_ITEM:
                        add_facts(c, columns[c][1])
                out.cells += n_banks * len(cols)
                lines = [
                    _row(["IDRSSD", *cols]),
                    _row(["ID", *[f"Item {c}" for c in cols]]),
                ]
                lines += map(_row, zip(ids, *(columns[c][0] for c in cols)))
                zf.writestr(
                    f"FFIEC CDR Call Schedule {sched} {DATE_TOKEN}"
                    f"({p + 1} of {n_parts}).txt",
                    "\n".join(lines) + "\n",
                )
        por = [_row(POR_HEADER), _row(["ID", "Name", "State", "FDIC", "OCC", "ABA", "Updated"])]
        for b in banks.tolist():
            por.append(
                _row(
                    [
                        str(b),
                        f"Bank {b} {int(rng.integers(0, 1000))}",
                        STATES[int(rng.integers(0, len(STATES)))],
                        "0" if rng.random() < 0.2 else str(5000 + b),
                        "0" if rng.random() < 0.2 else str(700 + b),
                        str(100_000 + b),
                        "2024-07-01T12:00:00",
                    ]
                )
            )
        zf.writestr(f"FFIEC CDR Call Bulk POR {DATE_TOKEN}.txt", "\n".join(por) + "\n")
    out.facts = {
        LONG_NAME[t]: pa.table(
            {
                "IDRSSD": pa.array(b, pa.int32()),
                "item": pa.array(i, pa.string()),
                "value": pa.array(v, VALUE_TYPE[t]),
            }
        )
        for t, (b, i, v) in facts.items()
    }
    out.zip_bytes = os.path.getsize(path)
    return out
