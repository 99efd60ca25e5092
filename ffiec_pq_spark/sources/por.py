"""POR (institution) reader (SURVEY.md §2.1 S5; reference
read_por_from_zip, R/ffeic_read.R:434-493).

The member's lines and its first two lines come from the zip's
``ZipFrame`` (``sources/tsv.py``), which the ingest builds once per zip.

Semantics reproduced:
- header sniff: if row 2's IDRSSD field isn't an integer it's a
  description row -> skip 2, else skip 1 (reference :449-456);
- all columns string except ``IDRSSD`` int (:460-462);
- snake_case header normalization (clean_por_cols, :502-514);
- identifier columns where "0" means missing -> NULL (applied by the
  process layer, R/ffiec_process.R:294-303);
- ``last_date_time_submission_updated_on`` parsed as America/New_York
  wall time and converted to UTC (:484-490).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ffiec_pq_spark.functions.scalars import snake_case
from ffiec_pq_spark.sources.tsv import (
    ZipFrame,
    member_slice,
    null_if_sql,
    select_fields,
    sql_str,
)

ID_ZERO_NA_COLS = (
    "financial_institution_zip_code",
    "fdic_certificate_number",
    "occ_charter_number",
    "ots_docket_number",
    "primary_aba_routing_number",
)
SUBMISSION_TS_COL = "last_date_time_submission_updated_on"


def _por_sql(i: int, name: str) -> str:
    """SQL text for the POR field ``i`` (normalized name ``name``) over
    the split array ``f``: blank -> NULL, then the column's rule.
    ``get`` + ``try_cast``: short/malformed rows yield NULLs, never the
    ANSI out-of-bounds / bad-cast error (Spark 4 defaults ANSI on)."""
    raw = null_if_sql(f"trim(get(f, {i}))", ("",))
    if name == "idrssd":
        return f"try_cast({raw} AS INT)"
    if name in ID_ZERO_NA_COLS:
        return f"CASE WHEN trim({raw}) IN ('', '0') THEN NULL ELSE {raw} END"
    if name == SUBMISSION_TS_COL:
        fmt = sql_str("yyyy-MM-dd'T'HH:mm:ss")
        return f"to_utc_timestamp(to_timestamp({raw}, {fmt}), 'America/New_York')"
    return raw


def read_por(frame: ZipFrame, member: str) -> tuple[DataFrame, dict]:
    """Read the POR member of ``frame`` -> (typed DataFrame, audit)."""
    names, second = frame.heads[member]
    try:
        idx = [n.upper() for n in names].index("IDRSSD")
    except ValueError:
        idx = 0
    second_fields = second.split("\t")
    probe = second_fields[idx].strip() if idx < len(second_fields) else ""
    skip = 1 if probe.isdigit() else 2
    clean = [snake_case(n) for n in names]
    # the frame spreads the lines across partitions; one partition in
    # line order keeps the file in the member's row order
    lines = (
        member_slice(frame.lines, member, skip)
        .coalesce(1)
        .sortWithinPartitions("line_no")
    )
    cols = [
        ("IDRSSD" if name == "idrssd" else name, _por_sql(i, name))
        for i, name in enumerate(clean)
    ]
    audit = {
        "zipfile": frame.zip_path, "file": member, "skip": skip,
        "repairs": [], "ok": True,
    }
    return select_fields(lines, cols), audit
