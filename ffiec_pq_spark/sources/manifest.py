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
from pyspark.sql import functions as F
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


def resolve_n_parts(manifest: DataFrame) -> DataFrame:
    """Multipart validation (reference resolve_n_parts,
    R/ffiec_process.R:106-130): per (zipfile, schedule, date) compare
    claimed part count vs found parts; flag missing/duplicate/
    non-contiguous part numbers.  Returns one row per group with an
    ``errors`` array (empty = valid)."""
    grouped = (
        manifest.filter(F.col("schedule").isNotNull() & (F.col("schedule") != "por"))
        .groupBy("zipfile", "schedule", "date")
        .agg(
            F.max("n_parts").alias("claimed_parts"),
            F.count(F.lit(1)).alias("found_parts"),
            F.sort_array(F.collect_list("part")).alias("parts"),
        )
        .withColumn(
            "claimed", F.coalesce(F.col("claimed_parts"), F.col("found_parts"))
        )
    )
    # collect_list drops NULLs: an unpartitioned single file yields an
    # empty parts array and is valid iff exactly one file was found
    unpartitioned = F.size("parts") == 0
    dup = F.size("parts") != F.size(F.array_distinct("parts"))
    contiguous = F.col("parts") == F.sequence(F.lit(1), F.col("claimed"))
    return grouped.withColumn(
        "errors",
        F.filter(
            F.array(
                F.when(
                    ~unpartitioned & (F.col("found_parts") != F.col("claimed")),
                    "count-mismatch",
                ),
                F.when(dup, "duplicate-parts"),
                F.when(~unpartitioned & ~contiguous, "non-contiguous"),
                F.when(unpartitioned & (F.col("found_parts") != 1), "count-mismatch"),
            ),
            lambda x: x.isNotNull(),
        ),
    ).select("zipfile", "schedule", "date", "claimed", "found_parts", "parts", "errors")
