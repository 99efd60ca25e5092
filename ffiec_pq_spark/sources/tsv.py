"""Dictionary-typed TSV-in-zip schedule reader with two-phase malformed
-row repair (SURVEY.md §2.1 S3/S4; reference read_call_from_zip
R/ffeic_read.R:34-119 and read_tsv_with_tab_repair :194-250).

Spark has no native "read member X of a zip" source, so member bytes are
extracted executor-side from a ``binaryFile`` scan of the zip and turned
into a line DataFrame.  The ingest extracts all of a zip's schedule
members in ONE pass (:func:`zip_lines_batch`), audits them together and
parses each clean member from its slice of that frame; only members
that need repair are extracted again on their own.  Everything after
the extraction is declarative:

1. header row (line 1) -> column names; line 2 is a description row and
   is skipped (reference ``skip = 2``).
2. names are looked up in a broadcastable dictionary {item -> type char}
   to build the typed colspec; unknown columns default to string;
   hard overrides (RCON8678 string, RCON9999/RIAD9106 date-parsed-later)
   mirror the reference (R/ffiec_types.R:30-35).
3. fast path: split on tabs, project all-string, then typed casts with
   the domain NULL tokens "" / "CONF".
4. slow path (triggered per member when any line's field count is
   wrong): re-extract with text-level repairs — (a) join embedded
   newlines not preceded by a tab into the prior line
   (regex ``(?<!\\t)\\n`` -> space), (b) convert tabs beyond
   ``expected-1`` to spaces — then re-parse; repair tags are recorded
   in the audit (reference R/ffeic_read.R:90-93,130-146).

The reader returns ``(DataFrame, audit_dict)`` — the reference carries
diagnostics as R attributes (SURVEY.md §2.13); here the audit is an
explicit value the process log aggregates.

Scale: one zip member = one Spark task's worth of text (quarterly files
are ~10-100 MB); many members/zips process in parallel, so cluster
parallelism comes from the number of files, exactly like the
reference's per-zip worker fan-out but scheduled by Spark.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffiec_pq_spark.functions.scalars import parse_yyyymmdd

NA_TOKENS = ("", "CONF")

# type chars follow the reference's readr shorthand:
# d=double, i=int, c=character, l=logical, D=date(yyyymmdd text)
DEFAULT_OVERRIDES = {"RCON8678": "c", "RCON9999": "D", "RIAD9106": "D"}

_SPARK_TYPES = {
    "d": T.DoubleType(),
    "i": T.IntegerType(),
    "c": T.StringType(),
    "l": T.BooleanType(),
    "D": T.DateType(),
}


def make_colspec(
    header: list[str],
    type_dict: dict[str, str],
    overrides: dict[str, str] | None = None,
) -> list[tuple[str, str]]:
    """(name, type_char) per header column: dictionary lookup with hard
    overrides and default-string for unknown names
    (reference make_colspec, R/ffeic_read.R:377-418)."""
    overrides = {**DEFAULT_OVERRIDES, **(overrides or {})}
    out = []
    for name in header:
        if name == "IDRSSD":
            out.append((name, "i"))
        elif name in overrides:
            out.append((name, overrides[name]))
        else:
            out.append((name, type_dict.get(name, "c")))
    return out


def read_zip_member_header(zip_path: str, member: str) -> list[str]:
    """Driver-side: read just the first line of a member for the colspec
    (cheap — decompresses only the first block)."""
    with zipfile.ZipFile(zip_path) as zf:
        with zf.open(member) as fh:
            first = io.TextIOWrapper(fh, encoding="utf-8", errors="replace").readline()
    # rows carry a trailing tab; drop the resulting empty last name
    names = [c.strip().strip('"') for c in first.rstrip("\r\n").split("\t")]
    if names and names[-1] == "":
        names.pop()
    return names


def fix_extra_tabs(line: str, expected_cols: int) -> str:
    """Convert tabs beyond ``expected_cols - 1`` into spaces
    (reference fix_extra_tabs, R/ffeic_read.R:130-146); the row's
    trailing delimiter tab is preserved, not counted."""
    trailing = line.endswith("\t")
    core = line[:-1] if trailing else line
    parts = core.split("\t")
    if len(parts) <= expected_cols:
        return line
    keep = parts[: expected_cols - 1]
    keep.append(" ".join(parts[expected_cols - 1 :]))
    return "\t".join(keep) + ("\t" if trailing else "")


def repair_member_text(text: str, expected_cols: int) -> tuple[str, list[str]]:
    """Apply both reference repairs to a member's full text; return
    (repaired_text, repair_tags)."""
    tags = []
    # normalize CRLF first: otherwise each split line keeps a trailing
    # \r, fix_extra_tabs no longer sees the trailing tab delimiter, and
    # every well-formed CRLF row would get merged-field treatment
    text = text.replace("\r\n", "\n")
    # joins ALL newlines not preceded by a tab: sound because FFIEC rows
    # end with a trailing tab, so every legitimate row boundary is
    # tab-adjacent and only embedded (mid-field) newlines match
    repaired = re.sub(r"(?<!\t)\r?\n(?!$)", " ", text)
    if repaired != text:
        tags.append("newline-gsub")
    lines = repaired.split("\n")
    fixed = [fix_extra_tabs(ln, expected_cols) for ln in lines]
    if fixed != lines:
        tags.append("tab-repair")
    return "\n".join(fixed), tags


def zip_member_lines(
    spark: SparkSession,
    zip_path: str,
    member: str,
    skip: int = 2,
    repair_expected_cols: int | None = None,
) -> DataFrame:
    """Executor-side extraction of one zip member into a line DataFrame
    (line_no, value).  When ``repair_expected_cols`` is set the slow-path
    text repairs run before line splitting."""
    bin_df = spark.read.format("binaryFile").load(zip_path)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    text = zf.read(member).decode("utf-8", errors="replace")
                if repair_expected_cols is not None:
                    text, _ = repair_member_text(text, repair_expected_cols)
                lines = text.split("\n")
                if lines and lines[-1] == "":
                    lines.pop()
                yield pd.DataFrame(
                    {
                        "line_no": range(1, len(lines) + 1),
                        "value": [ln.rstrip("\r") for ln in lines],
                    }
                )

    lines_df = bin_df.select("content").mapInPandas(
        extract, schema="line_no long, value string"
    )
    return lines_df.filter(F.col("line_no") > skip)


def _typed_cast(raw: F.Column, tchar: str) -> F.Column:
    cleaned = F.when(F.trim(raw).isin(*NA_TOKENS), F.lit(None)).otherwise(F.trim(raw))
    if tchar == "D":
        return parse_yyyymmdd(cleaned)
    if tchar == "l":
        return F.when(F.lower(cleaned).isin("true", "1"), F.lit(True)).when(
            F.lower(cleaned).isin("false", "0"), F.lit(False)
        )
    # try_cast, not cast: Spark 4 runs ANSI mode, where a malformed
    # numeric throws; the reference's readr semantics are NULL + a
    # recorded problem (counted by member_stats)
    return cleaned.try_cast(_SPARK_TYPES[tchar])


def parse_schedule_lines(
    lines: DataFrame, colspec: list[tuple[str, str]]
) -> DataFrame:
    """Tab-split -> typed projection with NULL-token semantics."""
    fields = F.split(F.regexp_replace(F.col("value"), "\t$", ""), "\t", -1)
    # F.get (not fields[i]): NULL on short rows instead of the ANSI
    # out-of-bounds error — lenient mode must parse what it can
    cols = [
        _typed_cast(F.trim(F.get(fields, i)).alias(name), tchar).alias(name)
        for i, (name, tchar) in enumerate(colspec)
    ]
    return lines.select(*cols)


def member_stats(
    lines: DataFrame, colspec: list[tuple[str, str]]
) -> tuple[int, int]:
    """(n_bad_lines, n_problem_rows) in ONE aggregate pass.

    n_bad_lines: wrong tab-field count (the repair-slow-path trigger).
    n_problem_rows: a typed (double/int/date) field whose value fails
    its parse — the reference's 'problems' capture (R/ffeic_read.R:
    257-310): value becomes NULL, problem is counted.

    The tab-split array is PROJECTED once per row before the per-column
    conditions: referencing the split expression inside each of ~2xN
    conditions would re-run the regex split per condition (no CSE
    across that many branches)."""
    n = len(colspec)
    split_expr = F.split(F.regexp_replace(F.col("value"), "\t$", ""), "\t", -1)
    proj = lines.select(split_expr.alias("f"))
    conds = []
    for i, (name, tchar) in enumerate(colspec):
        if tchar not in ("d", "i", "D"):
            continue
        raw = F.trim(F.get(F.col("f"), i))
        cleaned = F.when(raw.isin(*NA_TOKENS), F.lit(None)).otherwise(raw)
        if tchar == "D":
            cleaned = F.when(
                cleaned.isin("0", "00000000"), F.lit(None)
            ).otherwise(cleaned)
        typed = _typed_cast(raw, tchar)
        conds.append(cleaned.isNotNull() & typed.isNull())
    problem = conds[0] if conds else F.lit(False)
    for c in conds[1:]:
        problem = problem | c
    row = proj.agg(
        F.sum((F.size("f") != n).cast("long")).alias("bad"),
        F.sum(problem.cast("long")).alias("problems"),
    ).collect()[0]
    return int(row["bad"] or 0), int(row["problems"] or 0)


def zip_lines_batch(
    spark: SparkSession, zip_path: str, members: list[str], skip: int = 2
) -> DataFrame:
    """Every listed member of one zip as ONE line frame (member,
    line_no, value), extracted in a single ``binaryFile`` pass and
    ``spread`` across the cluster: one zip = one ``binaryFile`` row =
    ONE task, so without the redistribution every downstream per-line
    operation would run single-threaded inside the extraction task.

    The ingest persists this frame, audits it with
    :func:`lines_batch_stats` and parses every clean member from its
    ``member`` slice — each bulk zip is decompressed into lines once.
    Line values and the ``skip`` semantics match
    :func:`zip_member_lines` (``line_no`` counts from 1 after the
    skipped rows)."""
    bin_df = spark.read.format("binaryFile").load(zip_path)
    members = sorted(members)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    for m in members:
                        text = zf.read(m).decode("utf-8", errors="replace")
                        lines = text.split("\n")
                        if lines and lines[-1] == "":
                            lines.pop()
                        lines = [ln.rstrip("\r") for ln in lines[skip:]]
                        yield pd.DataFrame(
                            {
                                "member": m,
                                "line_no": range(1, len(lines) + 1),
                                "value": lines,
                            }
                        )

    from ffiec_pq_spark.session import spread

    return spread(
        bin_df.select("content").mapInPandas(
            extract, schema="member string, line_no long, value string"
        )
    )


def member_slice(lines_all: DataFrame, member: str) -> DataFrame:
    """One member's (line_no, value) rows of a :func:`zip_lines_batch`
    frame — the input :func:`parse_schedule_lines` takes."""
    return lines_all.filter(F.col("member") == member).select("line_no", "value")


def lines_batch_stats(
    spark: SparkSession,
    lines_all: DataFrame,
    colspecs: dict[str, list[tuple[str, str]]],
) -> dict[str, tuple[int, int]]:
    """(n_bad_lines, n_problem_rows) for EVERY member of a
    :func:`zip_lines_batch` frame in a single Spark job.

    The per-member column specs ride in as a broadcast (member, idx,
    type) dimension, and both counters reduce map-side: posexplode
    fans each line out to its fields, the typed-parse check joins its
    type char, and partial aggregation collapses back to line
    granularity before the (member, line) -> member shuffle.
    Semantics are identical to :func:`member_stats` (same NA tokens,
    same date-sentinel handling, same try_cast lenience) — pinned by a
    fixture parity test."""
    from ffiec_pq_spark.session import local_frame

    spec_rows = [
        (m, i, tchar)
        for m, spec in colspecs.items()
        for i, (_, tchar) in enumerate(spec)
        if tchar in ("d", "i", "D")
    ]
    spec_df = local_frame(
        spark, spec_rows or [("", -1, "c")], "member string, idx int, tchar string"
    )
    n_df = local_frame(
        spark,
        [(m, len(spec)) for m, spec in colspecs.items()],
        "member string, n_cols int",
    )
    fields = F.split(F.regexp_replace(F.col("value"), "\t$", ""), "\t", -1)
    per_field = lines_all.select(
        "member", "line_no", F.size(fields).alias("nf"),
        F.posexplode_outer(fields).alias("idx", "raw"),
    ).join(F.broadcast(spec_df), ["member", "idx"], "left")
    raw = F.trim(F.col("raw"))
    na_cleaned = F.when(raw.isin(*NA_TOKENS), F.lit(None)).otherwise(raw)
    d_cleaned = F.when(
        (F.col("tchar") == "D") & na_cleaned.isin("0", "00000000"),
        F.lit(None),
    ).otherwise(na_cleaned)
    typed_null = (
        F.when(F.col("tchar") == "d", na_cleaned.try_cast("double").isNull())
        .when(F.col("tchar") == "i", na_cleaned.try_cast("int").isNull())
        .when(F.col("tchar") == "D", parse_yyyymmdd(na_cleaned).isNull())
        .otherwise(F.lit(False))
    )
    fail = (
        F.col("tchar").isNotNull()
        & d_cleaned.isNotNull()
        & typed_null
    ).cast("long")
    per_line = per_field.groupBy("member", "line_no").agg(
        F.max(fail).alias("any_fail"), F.first("nf").alias("nf")
    )
    per_member = (
        per_line.join(F.broadcast(n_df), "member")
        .groupBy("member")
        .agg(
            F.sum((F.col("nf") != F.col("n_cols")).cast("long")).alias("bad"),
            F.sum("any_fail").alias("problems"),
        )
        .collect()
    )
    out = {m: (0, 0) for m in colspecs}  # empty members produce no rows
    for r in per_member:
        out[r["member"]] = (int(r["bad"] or 0), int(r["problems"] or 0))
    return out


def zip_stats_batch(
    spark: SparkSession,
    zip_path: str,
    colspecs: dict[str, list[tuple[str, str]]],
    skip: int = 2,
) -> dict[str, tuple[int, int]]:
    """(n_bad_lines, n_problem_rows) for EVERY listed member of one zip
    in a single Spark job: :func:`lines_batch_stats` over one
    :func:`zip_lines_batch` extraction.

    The per-member :func:`member_stats` runs one ``collect`` per member
    (two when the repair path re-checks) on a sequentially-extracted
    line frame — at 100k members the job-scheduling overhead dominates
    the audit.  This is the stand-alone form; the ingest instead
    persists the extraction and parses the clean members from the same
    frame (``operators/process.py``), so no member is decompressed
    twice.

    The ``spread`` of the extracted lines is what parallelizes the
    field pass: the round-12 stage breakdown measured the audit as the
    ingest's top stage (6.6 s of 23.7 s at 10k banks) with 31 idle
    cores; measured warm 4.3 s vs 16.5 s without the spread at 80k
    banks (8x), and the extraction itself is 0.4 s, so the residual is
    the distributed field pass."""
    return lines_batch_stats(
        spark, zip_lines_batch(spark, zip_path, list(colspecs), skip), colspecs
    )


def read_call_schedule(
    spark: SparkSession,
    zip_path: str,
    member: str,
    type_dict: dict[str, str],
    overrides: dict[str, str] | None = None,
    precomputed_stats: tuple[int, int] | None = None,
) -> tuple[DataFrame, dict]:
    """Read one schedule TSV member -> (typed DataFrame, audit).

    Two-phase: strict parse first; on any bad-field-count line, re-read
    with text repairs (the reference's exact strategy).

    ``precomputed_stats``: the (n_bad, n_problems) pair from
    :func:`zip_stats_batch` — passing it removes this member's own
    stats job, so a clean member costs no Spark job until the terminal
    write (the audit rode the whole-zip batch pass).  See
    :func:`read_schedule_member` for the line-frame lifecycle."""
    header = read_zip_member_header(zip_path, member)
    colspec = make_colspec(header, type_dict, overrides)
    return read_schedule_member(
        spark, zip_path, member, colspec, precomputed_stats
    )


def read_schedule_member(
    spark: SparkSession,
    zip_path: str,
    member: str,
    colspec: list[tuple[str, str]],
    precomputed_stats: tuple[int, int] | None = None,
    batch_lines: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """:func:`read_call_schedule` for a member whose colspec is already
    built.

    ``batch_lines``: the zip's shared :func:`zip_lines_batch` frame the
    ``precomputed_stats`` were taken from.  A clean member (no
    bad-field-count line) then parses its slice of that frame instead
    of decompressing the member again; without it a clean member is
    extracted once, uncached, for its single downstream consumer.

    A member that needs repair is re-extracted on its own with the text
    repairs, and that line DataFrame is CACHED (the re-check and the
    downstream parse would otherwise each re-decompress the member).
    The caller releases it via ``audit['unpersist']()`` once the wide
    output is written; releasing ``batch_lines`` is the caller's."""
    n = len(colspec)
    audit: dict = {"zipfile": zip_path, "file": member, "repairs": [], "ok": True}

    if precomputed_stats is not None:
        n_bad, n_problems = precomputed_stats
        if not n_bad:
            audit["n_problems"] = n_problems
            if n_problems:
                audit["repairs"] = ["coerced-invalid-values"]
            audit["unpersist"] = lambda: None
            if batch_lines is not None:
                lines = member_slice(batch_lines, member)
            else:
                lines = zip_member_lines(spark, zip_path, member, skip=2)
            return parse_schedule_lines(lines, colspec), audit
    else:
        lines = zip_member_lines(spark, zip_path, member, skip=2).cache()
        n_bad, n_problems = member_stats(lines, colspec)
        if n_bad:
            lines.unpersist()
    if n_bad:
        lines = zip_member_lines(
            spark, zip_path, member, skip=2, repair_expected_cols=n
        ).cache()
        audit["repairs"] = ["newline-gsub", "tab-repair"]
        n_bad, n_problems = member_stats(lines, colspec)
        if n_bad:
            audit["ok"] = False
    audit["n_problems"] = n_problems
    if n_problems:
        audit["repairs"] = sorted({*audit["repairs"], "coerced-invalid-values"})
    audit["unpersist"] = lines.unpersist
    return parse_schedule_lines(lines, colspec), audit
