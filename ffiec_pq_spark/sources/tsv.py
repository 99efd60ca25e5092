"""Dictionary-typed TSV-in-zip schedule reader with two-phase malformed
-row repair (SURVEY.md §2.1 S3/S4; reference read_call_from_zip
R/ffeic_read.R:34-119 and read_tsv_with_tab_repair :194-250).

Spark has no native "read member X of a zip" source, so member bytes are
extracted executor-side from a ``binaryFile`` scan of the zip and turned
into lines.  :func:`zip_lines_batch` is the one such extraction: every
listed member of a zip in ONE pass, every physical line kept.  A
:class:`ZipFrame` persists that frame for one zip, and the audit, the
repair, every schedule parse and the POR reader (``sources/por.py``)
all read slices of it.  Everything after the extraction is
declarative:

1. header row (line 1) -> column names; line 2 is a description row and
   is skipped (reference ``skip = 2``); each consumer drops its own
   header rows (:func:`member_slice`).
2. names are looked up in a broadcastable dictionary {item -> type char}
   to build the typed colspec; unknown columns default to string;
   hard overrides (RCON8678 string, RCON9999/RIAD9106 date-parsed-later)
   mirror the reference (R/ffiec_types.R:30-35).
3. fast path: split on tabs, project all-string, then typed casts with
   the domain NULL tokens "" / "CONF".
4. slow path (for the members whose audit finds a line with the wrong
   field count): one grouped map over those members' cached lines
   rebuilds each member's text and applies the text-level repairs —
   (a) join embedded newlines not preceded by a tab into the prior
   line (regex ``(?<!\\t)\\n`` -> space), (b) convert tabs beyond
   ``expected-1`` to spaces — then the repaired rows are re-audited and
   parsed; the repair tags that fired are recorded in the audit
   (reference R/ffeic_read.R:90-93,130-146).

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
import threading
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


def zip_member_heads(
    zip_path: str, members: list[str]
) -> dict[str, tuple[list[str], str]]:
    """Driver-side: {member: (header names, raw second line)} for every
    listed member, from ONE open of the zip (cheap — decompresses only
    each member's first block).  The names feed the colspec; the
    second line is what the POR reader sniffs its skip from."""
    heads = {}
    with zipfile.ZipFile(zip_path) as zf:
        for m in members:
            with zf.open(m) as fh:
                text = io.TextIOWrapper(fh, encoding="utf-8", errors="replace")
                first = text.readline().rstrip("\r\n")
                second = text.readline().rstrip("\r\n")
            # rows carry a trailing tab; drop the resulting empty last name
            names = [c.strip().strip('"') for c in first.split("\t")]
            if names and names[-1] == "":
                names.pop()
            heads[m] = (names, second)
    return heads


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
    spark: SparkSession, zip_path: str, members: list[str]
) -> DataFrame:
    """Every listed member of one zip as ONE line frame (member,
    line_no, value), extracted in a single ``binaryFile`` pass and
    ``spread`` across the cluster: one zip = one ``binaryFile`` row =
    ONE task, so without the redistribution every downstream per-line
    operation would run single-threaded inside the extraction task
    (the audit measured warm 4.3 s vs 16.5 s without the spread at 80k
    banks).

    Every physical line is kept with its 1-based ``line_no`` (line
    ends' ``\\r`` stripped); each consumer drops its own header rows
    (:func:`member_slice`).  :class:`ZipFrame` persists it once per
    zip for every reader."""
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
                        yield pd.DataFrame(
                            {
                                "member": m,
                                "line_no": range(1, len(lines) + 1),
                                "value": [ln.rstrip("\r") for ln in lines],
                            }
                        )

    from ffiec_pq_spark.session import spread

    return spread(
        bin_df.select("content").mapInPandas(
            extract, schema="member string, line_no long, value string"
        )
    )


def member_slice(lines_all: DataFrame, member: str, skip: int = 2) -> DataFrame:
    """One member's (line_no, value) rows of a :func:`zip_lines_batch`
    or :func:`repair_lines` frame after its first ``skip`` lines (2 for
    a schedule; the POR reader passes the skip it sniffed)."""
    return lines_all.filter(
        (F.col("member") == member) & (F.col("line_no") > skip)
    ).select("line_no", "value")


def lines_batch_stats(
    spark: SparkSession,
    lines_all: DataFrame,
    colspecs: dict[str, list[tuple[str, str]]],
) -> dict[str, tuple[int, int]]:
    """(n_bad_lines, n_problem_rows) for EVERY member of ``colspecs``
    over its data rows (``line_no > 2``) of a :func:`zip_lines_batch`
    or :func:`repair_lines` frame, in one aggregation; the frame's
    other members are not read.

    Each member's type chars ride in a literal map, so a higher-order
    function checks each row's fields where the row lies, and partial
    aggregation leaves one row per (task, member) for the only shuffle.
    Semantics are identical to :func:`member_stats` (same NA tokens,
    date sentinels and try_cast lenience) — pinned by parity tests."""
    types = F.create_map(
        *[
            F.lit(x)
            for m, spec in colspecs.items()
            for x in (m, "".join(tchar for _, tchar in spec))
        ]
    )

    def fails(field: F.Column, i: F.Column) -> F.Column:
        tchar = F.substr(F.col("types"), i + 1, F.lit(1))
        raw = F.trim(field)
        na_cleaned = F.when(raw.isin(*NA_TOKENS), F.lit(None)).otherwise(raw)
        d_cleaned = F.when(
            (tchar == "D") & na_cleaned.isin("0", "00000000"), F.lit(None)
        ).otherwise(na_cleaned)
        typed_null = (
            F.when(tchar == "d", na_cleaned.try_cast("double").isNull())
            .when(tchar == "i", na_cleaned.try_cast("int").isNull())
            .when(tchar == "D", parse_yyyymmdd(na_cleaned).isNull())
            .otherwise(F.lit(False))
        )
        return d_cleaned.isNotNull() & typed_null

    fields = F.split(F.regexp_replace(F.col("value"), "\t$", ""), "\t", -1)
    rows = (
        lines_all.filter(
            F.col("member").isin(list(colspecs)) & (F.col("line_no") > 2)
        )
        .select(
            "member",
            fields.alias("fields"),
            F.element_at(types, F.col("member")).alias("types"),
        )
        .groupBy("member")
        .agg(
            F.sum((F.size("fields") != F.length("types")).cast("long")).alias("bad"),
            F.sum(
                F.exists(F.transform("fields", fails), lambda f: f).cast("long")
            ).alias("problems"),
        )
        .collect()
    )
    out = {m: (0, 0) for m in colspecs}  # empty members produce no rows
    for r in rows:
        out[r["member"]] = (int(r["bad"]), int(r["problems"]))
    return out


def repair_lines(lines_all: DataFrame, n_cols: dict[str, int]) -> DataFrame:
    """The slow path for the members of ``n_cols`` ({member: field
    count}) in ONE ``groupBy("member").applyInPandas``: each member's
    lines, joined in ``line_no`` order, go through
    :func:`repair_member_text` and come back after the two header rows
    as (member, line_no from 3, value, tags that fired).  The joined
    text is the CRLF-normalised member text minus its final newline
    (which the repair never joins) unless a line ends in 2+ ``\\r``."""

    def repair(pdf: pd.DataFrame) -> pd.DataFrame:
        member = pdf["member"].iat[0]
        text = "\n".join(pdf.sort_values("line_no")["value"])
        text, tags = repair_member_text(text, n_cols[member])
        lines = text.split("\n")[2:]
        return pd.DataFrame(
            {
                "member": member,
                "line_no": range(3, len(lines) + 3),
                "value": lines,
                "tags": [tags] * len(lines),
            }
        )

    return (
        lines_all.filter(F.col("member").isin(list(n_cols)))
        .groupBy("member")
        .applyInPandas(
            repair,
            schema="member string, line_no long, value string, tags array<string>",
        )
    )


class ZipFrame:
    """One zip's persisted :func:`zip_lines_batch` frame over the listed
    members, their heads (:func:`zip_member_heads`) and, after
    :meth:`audit`, the schedule members' (n_bad, n_problems) counters
    and, on demand, the repaired rows.  Leaving the ``with`` block (or
    :meth:`release`) unpersists both frames."""

    def __init__(self, spark: SparkSession, zip_path: str, members: list[str]):
        self.spark = spark
        self.zip_path = zip_path
        self.heads = zip_member_heads(zip_path, members)
        self.lines = zip_lines_batch(spark, zip_path, members).persist()
        self.colspecs: dict[str, list[tuple[str, str]]] = {}
        self.stats: dict[str, tuple[int, int]] = {}
        self.flagged: list[str] = []  # members with a bad-field-count line
        self.tags: dict[str, list[str]] = {}  # flagged members, once repaired
        self.repaired: DataFrame | None = None
        self._repair_lock = threading.Lock()

    def audit(self, colspecs: dict[str, list[tuple[str, str]]]) -> None:
        """Audit the schedule members of ``colspecs`` in one
        :func:`lines_batch_stats` call."""
        self.colspecs = colspecs
        self.stats = lines_batch_stats(self.spark, self.lines, colspecs)
        self.flagged = [m for m in colspecs if self.stats[m][0]]

    def repaired_rows(self) -> DataFrame:
        """The flagged members' :func:`repair_lines` rows, persisted: the
        first caller repairs them all and re-checks them in one
        :func:`lines_batch_stats` call that ``observe``s their tags;
        concurrent callers wait for it, clean members' readers never."""
        from pyspark.sql import Observation

        with self._repair_lock:
            if self.repaired is None:
                specs = {m: self.colspecs[m] for m in self.flagged}
                self.repaired = repair_lines(
                    self.lines, {m: len(spec) for m, spec in specs.items()}
                ).persist()
                obs = Observation()
                checked = self.repaired.observe(
                    obs, F.collect_set(F.struct("member", "tags")).alias("tags")
                )
                self.stats.update(lines_batch_stats(self.spark, checked, specs))
                tags = {m: [] for m in specs}
                tags.update({r["member"]: list(r["tags"]) for r in obs.get["tags"]})
                self.tags = tags
        return self.repaired

    def release(self) -> None:
        self.lines.unpersist()
        if self.repaired is not None:
            self.repaired.unpersist()

    def __enter__(self) -> "ZipFrame":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def read_call_schedule(
    spark: SparkSession,
    zip_path: str,
    member: str,
    type_dict: dict[str, str],
    overrides: dict[str, str] | None = None,
) -> tuple[DataFrame, dict]:
    """Read one schedule TSV member -> (typed DataFrame, audit).

    Two-phase: strict parse first; on any bad-field-count line, re-read
    with text repairs (the reference's exact strategy).  The stand-alone
    form of the ingest's read: it builds a :class:`ZipFrame` for this
    one member, and ``audit['unpersist']()`` releases it once the
    result has been consumed."""
    frame = ZipFrame(spark, zip_path, [member])
    names, _ = frame.heads[member]
    frame.audit({member: make_colspec(names, type_dict, overrides)})
    df, audit = read_schedule_member(frame, member)
    audit["unpersist"] = frame.release
    return df, audit


def read_schedule_member(frame: ZipFrame, member: str) -> tuple[DataFrame, dict]:
    """One audited schedule member of ``frame`` -> (typed DataFrame,
    audit): a clean member parses its slice of the zip's line frame and
    costs no Spark job until the caller's terminal action; a flagged
    one parses its slice of :meth:`ZipFrame.repaired_rows`.  ``ok`` is
    false when a line still has the wrong field count after the
    repair."""
    lines = frame.repaired_rows() if member in frame.flagged else frame.lines
    n_bad, n_problems = frame.stats[member]
    repairs = list(frame.tags.get(member, []))
    if n_problems:
        repairs = sorted({*repairs, "coerced-invalid-values"})
    audit = {"zipfile": frame.zip_path, "file": member, "repairs": repairs,
             "ok": not n_bad, "n_problems": n_problems}
    colspec = frame.colspecs[member]
    return parse_schedule_lines(member_slice(lines, member), colspec), audit
