"""Bulk-zip discovery and in-zip manifests (SURVEY.md §2.1 S1/S2).

Reference behaviors re-expressed:
- ``list_bulk_zips``: regex-discover ``FFIEC CDR Call Bulk {All
  Schedules|XBRL} MMDDYYYY.zip`` files, parse the date out of the
  filename, sort (reference ffiec_list_zips, R/ffiec_manifest.R:51-117).
- ``zip_member_manifest``: list zip members and regex-extract
  ``schedule``, ``date``, ``part``, ``n_parts`` from inner filenames
  (reference get_cr_files, R/ffiec_manifest.R:130-144);
  ``zip_member_rows`` is the same listing as plain rows.

Both manifests are *small* (hundreds of rows) — they are built with
driver-side Python and returned as DataFrames so downstream plan logic
(filters, joins with the process log) is uniform.  At scale the zip
listing stays trivially small; member listing reads only the zip central
directory (no decompression).
"""

from __future__ import annotations

import os
import re
import zipfile
from collections import namedtuple
from datetime import datetime
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

BULK_ZIP_RE = re.compile(
    r"FFIEC CDR Call Bulk (All Schedules|POR|XBRL) (\d{8})\.zip$"
)
# inner schedule file: "FFIEC CDR Call Schedule RC 03312024(1 of 2).txt"
MEMBER_RE = re.compile(
    r"FFIEC CDR Call (?:Schedule (?P<schedule>[A-Za-z0-9]+)|(?P<por>Bulk POR)) "
    r"(?P<date>\d{8})"
    r"(?:\((?P<part>\d+) of (?P<n_parts>\d+)\))?"
)

_ZIP_SCHEMA = T.StructType(
    [
        T.StructField("zipfile", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("date", T.DateType(), True),
    ]
)

_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("zipfile", T.StringType(), False),
        T.StructField("file", T.StringType(), False),
        T.StructField("schedule", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
        T.StructField("part", T.IntegerType(), True),
        T.StructField("n_parts", T.IntegerType(), True),
    ]
)


def _parse_mmddyyyy(tok: str):
    try:
        return datetime.strptime(tok, "%m%d%Y").date()
    except ValueError:
        return None


def list_bulk_zips(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Discover bulk zips in a directory -> (zipfile, kind, date), sorted."""
    rows = []
    for path in sorted(glob(os.path.join(raw_dir, "*.zip"))):
        m = BULK_ZIP_RE.search(os.path.basename(path))
        if m:
            rows.append((path, m.group(1), _parse_mmddyyyy(m.group(2))))
    return spark.createDataFrame(rows, _ZIP_SCHEMA).orderBy("date", "zipfile")


ZipMember = namedtuple("ZipMember", _MEMBER_SCHEMA.fieldNames())


def zip_member_rows(zip_path: str) -> list[ZipMember]:
    """The member manifest of one zip as plain driver-side rows
    (zipfile, file, schedule, date, part, n_parts).  Reads only the
    central directory and runs no Spark job, so the ingest parses each
    zip once and reads its POR member and schedule groups straight
    from these rows."""
    rows = []
    with zipfile.ZipFile(zip_path) as zf:
        for name in zf.namelist():
            m = MEMBER_RE.search(name)
            if not m:
                rows.append(ZipMember(zip_path, name, None, None, None, None))
                continue
            sched = m.group("schedule")
            rows.append(
                ZipMember(
                    zip_path,
                    name,
                    sched.lower() if sched else ("por" if m.group("por") else None),
                    _parse_mmddyyyy(m.group("date")),
                    int(m.group("part")) if m.group("part") else None,
                    int(m.group("n_parts")) if m.group("n_parts") else None,
                )
            )
    return rows


def member_frame(spark: SparkSession, rows: list[ZipMember]) -> DataFrame:
    """:func:`zip_member_rows` output as a manifest DataFrame; the rows
    reach the JVM as Arrow batches (``session.local_frame``), not
    pickled."""
    from ffiec_pq_spark.session import local_frame

    return local_frame(spark, rows, _MEMBER_SCHEMA)


def zip_member_manifest(spark: SparkSession, zip_paths: list[str]) -> DataFrame:
    """Member manifest for each zip -> (zipfile, file, schedule, date,
    part, n_parts).  Reads only the central directory."""
    return member_frame(spark, [r for zp in zip_paths for r in zip_member_rows(zp)])


_PARTS_SCHEMA = (
    "zipfile string, schedule string, date date, claimed long, "
    "found_parts long, parts array<int>, errors array<string>"
)


def validate_parts(rows: list[ZipMember]) -> list[dict]:
    """Multipart validation (reference resolve_n_parts,
    R/ffiec_process.R:106-130) over driver-side member rows: per
    (zipfile, schedule, date) of the schedule members, compare the
    claimed part count with the parts found and flag missing, duplicate
    and non-contiguous part numbers.  One dict per group (the
    :func:`resolve_n_parts` columns) with an ``errors`` list (empty =
    valid).  The ingest runs it on the rows of :func:`zip_member_rows`,
    so validation costs no Spark job."""
    groups: dict[tuple, list[ZipMember]] = {}
    for r in rows:
        if r.schedule is not None and r.schedule != "por":
            groups.setdefault((r.zipfile, r.schedule, r.date), []).append(r)
    out = []
    for (zipfile_, schedule, d), members in groups.items():
        found = len(members)
        claimed = max(
            (r.n_parts for r in members if r.n_parts is not None), default=found
        )
        # an unpartitioned single file has no part numbers and is valid
        # iff it is the only file found
        parts = sorted(r.part for r in members if r.part is not None)
        unpartitioned = not parts
        step = 1 if claimed >= 1 else -1  # Spark's sequence(1, claimed)
        errors = []
        if not unpartitioned and found != claimed:
            errors.append("count-mismatch")
        if len(parts) != len(set(parts)):
            errors.append("duplicate-parts")
        if not unpartitioned and parts != list(range(1, claimed + step, step)):
            errors.append("non-contiguous")
        if unpartitioned and found != 1:
            errors.append("count-mismatch")
        out.append({
            "zipfile": zipfile_, "schedule": schedule, "date": d,
            "claimed": claimed, "found_parts": found, "parts": parts,
            "errors": errors,
        })
    return out


def resolve_n_parts(manifest: DataFrame) -> DataFrame:
    """:func:`validate_parts` over a manifest DataFrame (the
    :func:`zip_member_manifest` columns): one row per (zipfile,
    schedule, date) group with its ``errors`` array (empty = valid)."""
    from ffiec_pq_spark.session import local_frame

    rows = [
        ZipMember(**{f: r.asDict().get(f) for f in ZipMember._fields})
        for r in manifest.collect()
    ]
    return local_frame(
        manifest.sparkSession,
        [tuple(v.values()) for v in validate_parts(rows)],
        _PARTS_SCHEMA,
    )
