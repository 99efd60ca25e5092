"""Output checks for one ``etl_ingest`` ingest, read back with pyarrow
(no Spark jobs, so the checks never disturb the status-store counts):

- each long table holds exactly the generator's non-NULL facts of its
  type (so its row count equals the expected non-NULL cells, the shared
  item collapsed to one fact per bank);
- no long table repeats an ``(IDRSSD, date, item)`` key;
- the wide tables reconcile with the long ones: their non-NULL cells,
  unpivoted by type and de-duplicated, are the long tables' rows;
- the POR table has one row per bank;
- the process log is all ``ok``, with the repair tags the generator
  planted on each schedule.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from zipgen import REPORT_DATE

ARROW_LONG = {"double": "float", "int32": "int", "string": "str", "bool": "bool"}
KEY = ["IDRSSD", "item"]


def _sorted(tbl: pa.Table) -> pa.Table:
    return tbl.sort_by([(k, "ascending") for k in KEY]).combine_chunks()


def _same(a: pa.Table, b: pa.Table) -> bool:
    """Equal (IDRSSD, item, value) rows, whatever their order."""
    a = _sorted(a.select([*KEY, "value"]))
    b = _sorted(b.select([*KEY, "value"]).cast(a.schema))
    return a.equals(b)


def _unpivot(out_dir: str, wide_files: list[str]) -> dict[str, pa.Table]:
    """The wide tables' non-NULL cells as de-duplicated (IDRSSD, item,
    value) tables, one per long-table name."""
    parts: dict[str, list[pa.Table]] = {}
    for f in wide_files:
        wide = pq.read_table(os.path.join(out_dir, f))
        for fld in wide.schema:
            if fld.name in ("IDRSSD", "date"):
                continue
            col = wide.column(fld.name)
            keep = pc.is_valid(col)
            ids = wide.column("IDRSSD").filter(keep)
            parts.setdefault(ARROW_LONG.get(str(fld.type)), []).append(
                pa.table(
                    {
                        "IDRSSD": ids,
                        "item": pa.array([fld.name] * len(ids), pa.string()),
                        "value": col.filter(keep),
                    }
                )
            )
    return {
        name: pa.concat_tables(ts).group_by([*KEY, "value"]).aggregate([])
        for name, ts in parts.items()
    }


def check_outputs(out_dir: str, bz) -> dict:
    problems: list[str] = []
    longs = {}
    for name in sorted(bz.facts):
        path = os.path.join(out_dir, f"ffiec_{name}.parquet")
        if not os.path.exists(path):
            problems.append(f"missing long table {name}")
            continue
        longs[name] = pq.read_table(path).select(["IDRSSD", "date", "item", "value"])
    for name, tbl in longs.items():
        if not _same(tbl, bz.facts[name]):
            problems.append(
                f"long {name}: {tbl.num_rows} rows, expected "
                f"{bz.facts[name].num_rows} facts (or values differ)"
            )
        dates = pc.unique(tbl.column("date")).to_pylist()
        if dates != [REPORT_DATE]:
            problems.append(f"long {name}: dates {dates[:3]}")
        if tbl.group_by(KEY).aggregate([]).num_rows != tbl.num_rows:
            problems.append(f"long {name}: duplicate (IDRSSD, date, item) keys")

    wide_files = sorted(
        f for f in os.listdir(out_dir) if re.fullmatch(r"rc[a-z]_\d{8}\.parquet", f)
    )
    if len(wide_files) != len(bz.repairs):
        problems.append(f"{len(wide_files)} wide tables for {len(bz.repairs)} schedules")
    melted = _unpivot(out_dir, wide_files)
    for name, tbl in longs.items():
        if name not in melted or not _same(tbl, melted[name]):
            problems.append(f"wide tables do not reconcile with long {name}")

    por = [f for f in os.listdir(out_dir) if f.startswith("por_")]
    if len(por) != 1:
        problems.append("missing POR table")
    else:
        ids = pq.read_table(os.path.join(out_dir, por[0])).column("IDRSSD").to_pylist()
        if sorted(ids) != [10_000 + b for b in range(1, bz.n_banks + 1)]:
            problems.append(f"POR table has {len(ids)} rows for {bz.n_banks} banks")

    log = pq.read_table(os.path.join(out_dir, "ffiec_process_data.parquet")).to_pylist()
    if not all(r["ok"] for r in log):
        problems.append("process log has rows that are not ok")
    got_repairs = {
        r["schedule"]: sorted(r["repairs"] or []) for r in log if r["kind"] == "schedule"
    }
    if got_repairs != bz.repairs:
        problems.append(f"log repairs {got_repairs} != planted {bz.repairs}")
    if sum(1 for r in log if r["kind"] == "por") != 1:
        problems.append("process log lacks its POR row")
    return {
        "ok": not problems,
        "problems": problems,
        "long_rows": {n: t.num_rows for n, t in longs.items()},
    }
