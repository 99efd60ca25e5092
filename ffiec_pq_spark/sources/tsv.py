"""Dictionary-typed TSV-in-zip schedule reader with two-phase malformed
-row repair (SURVEY.md §2.1 S3/S4; reference read_call_from_zip
R/ffeic_read.R:34-119 and read_tsv_with_tab_repair :194-250).

Spark has no native "read member X of a zip" source, so member bytes are
extracted executor-side from a ``binaryFile`` scan of the zip and turned
into lines.  :func:`zip_lines_batch` is the one such extraction: every
listed member of a zip in ONE pass, every physical line kept.  A
:class:`ZipFrame` persists that frame for one zip, and the audit, every
schedule parse and the POR reader (``sources/por.py``) all read slices
of it.  Everything after the extraction is declarative:

1. header row (line 1) -> column names; line 2 is a description row and
   is skipped (reference ``skip = 2``); each consumer drops its own
   header rows (:func:`member_slice`).
2. names are looked up in a broadcastable dictionary {item -> type char}
   to build the typed colspec; unknown columns default to string;
   hard overrides (RCON8678 string, RCON9999/RIAD9106 date-parsed-later)
   mirror the reference (R/ffiec_types.R:30-35).
3. fast path: split on tabs once, then one ``selectExpr`` of typed casts
   with the domain NULL tokens "" / "CONF" (:func:`select_fields`).
4. slow path (for the members with a data line whose field count is not
   the header's): the extraction task that holds the member's text
   applies the text-level repairs there and then —
   (a) join embedded newlines not preceded by a tab into the prior
   line (regex ``(?<!\\t)\\n`` -> space), (b) convert tabs beyond
   ``expected-1`` to spaces — and emits the repaired lines with the
   repair tags that fired; the one audit of the frame counts the
   repaired lines and collects the tags for the log
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
import zipfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ffiec_pq_spark.functions.scalars import NA_DATE_TOKENS

NA_TOKENS = ("", "CONF")

# type chars follow the reference's readr shorthand:
# d=double, i=int, c=character, l=logical, D=date(yyyymmdd text)
DEFAULT_OVERRIDES = {"RCON8678": "c", "RCON9999": "D", "RIAD9106": "D"}

# the SQL types of the try_cast type chars (see typed_sql)
_SPARK_TYPES = {"d": "DOUBLE", "i": "INT", "c": "STRING"}


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


# the audit's field count (:func:`lines_batch_stats`) strips a final
# tab with ``regexp_replace(value, '\t$', '')``, and Java's ``$`` also
# matches just before a final line terminator
_JAVA_LINE_ENDS = "\r\u0085\u2028\u2029"


def field_count(value: str) -> int:
    """The audit's field count of one line, ``size(split(regexp_replace(
    value, '\\t$', ''), '\\t', -1))``, computed in Python: the
    extraction uses it to decide which members to repair, so the two
    must agree on every line (pinned by a parity test)."""
    if value.endswith("\t"):
        value = value[:-1]
    elif value[-2:-1] == "\t" and value[-1] in _JAVA_LINE_ENDS:
        value = value[:-2] + value[-1]
    return value.count("\t") + 1


def sql_str(text: str) -> str:
    """``text`` as a Spark SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def null_if_sql(expr: str, tokens) -> str:
    """SQL text: ``expr``, or NULL where it is one of ``tokens``."""
    listed = ", ".join(sql_str(t) for t in tokens)
    return f"CASE WHEN {expr} IN ({listed}) THEN NULL ELSE {expr} END"


def typed_sql(raw: str, tchar: str) -> str:
    """SQL text typing the field text ``raw`` by its type char: the
    NULL tokens, then a yyyymmdd date parse, a true/1 false/0 boolean,
    or a ``try_cast`` — not ``cast``: Spark 4 runs ANSI mode, where a
    malformed numeric throws; the reference's readr semantics are NULL
    + a recorded problem (counted by the audit)."""
    cleaned = null_if_sql(f"trim({raw})", NA_TOKENS)
    if tchar == "D":
        date_text = null_if_sql(f"trim({cleaned})", NA_DATE_TOKENS)
        return f"CAST(try_to_timestamp({date_text}, 'yyyyMMdd') AS DATE)"
    if tchar == "l":
        low = f"lower({cleaned})"
        return (
            f"CASE WHEN {low} IN ('true', '1') THEN true "
            f"WHEN {low} IN ('false', '0') THEN false END"
        )
    return f"try_cast({cleaned} AS {_SPARK_TYPES[tchar]})"


def _fields() -> F.Column:
    """A line's tab-split fields, its trailing delimiter tab dropped."""
    return F.split(F.regexp_replace(F.col("value"), "\t$", ""), "\t", -1)


def select_fields(lines: DataFrame, cols: list[tuple[str, str]]) -> DataFrame:
    """Split each line of ``lines`` once into the array ``f``, then
    project ``cols`` — (name, SQL text over ``f``) pairs — in ONE
    ``selectExpr`` call.  Building the same projection from Column
    objects costs about 15 py4j calls per column, and real schedules
    are hundreds of columns wide."""
    return lines.select(_fields().alias("f")).selectExpr(
        *(f"{sql} AS `{name.replace('`', '``')}`" for name, sql in cols)
    )


def parse_schedule_lines(
    lines: DataFrame, colspec: list[tuple[str, str]]
) -> DataFrame:
    """Tab-split -> typed projection with NULL-token semantics.
    ``get`` (not ``f[i]``): NULL on short rows instead of the ANSI
    out-of-bounds error — lenient mode must parse what it can."""
    return select_fields(
        lines,
        [(name, typed_sql(f"get(f, {i})", t)) for i, (name, t) in enumerate(colspec)],
    )


def problem_sql(raw: str, tchar: str) -> str:
    """SQL text: the trimmed field text ``raw`` holds a value that its
    type char cannot parse — the reference's 'problems' capture
    (R/ffeic_read.R:257-310): the value becomes NULL, the problem is
    counted.  Only types d, i and D can have problems."""
    cleaned = null_if_sql(raw, NA_TOKENS)
    if tchar == "D":
        cleaned = null_if_sql(cleaned, ("0", "00000000"))
    return f"({cleaned} IS NOT NULL AND {typed_sql(raw, tchar)} IS NULL)"


def member_stats(
    lines: DataFrame, colspec: list[tuple[str, str]]
) -> tuple[int, int]:
    """(n_bad_lines, n_problem_rows) of one member's data lines in ONE
    aggregate pass: lines with the wrong tab-field count (the repair
    trigger) and rows with a :func:`problem_sql` field.  The reference
    form of :func:`lines_batch_stats`.

    The tab-split array is PROJECTED once per row before the per-column
    conditions: referencing the split expression inside each of ~2xN
    conditions would re-run the regex split per condition (no CSE
    across that many branches)."""
    problem = " OR ".join(
        problem_sql(f"trim(get(f, {i}))", t)
        for i, (_, t) in enumerate(colspec) if t in "diD"
    )
    row = (
        lines.select(_fields().alias("f"))
        .selectExpr(
            f"sum(CAST(size(f) != {len(colspec)} AS LONG)) AS bad",
            f"sum(CAST({problem or 'false'} AS LONG)) AS problems",
        )
        .collect()[0]
    )
    return int(row["bad"] or 0), int(row["problems"] or 0)


def zip_lines_batch(
    spark: SparkSession,
    zip_path: str,
    members: list[str],
    n_cols: dict[str, int] | None = None,
) -> DataFrame:
    """Every listed member of one zip as ONE line frame (member,
    line_no, value, tags), extracted in a single ``binaryFile`` pass
    and ``spread`` across the cluster: one zip = one ``binaryFile`` row
    = ONE task, so without the redistribution every downstream
    per-line operation would run single-threaded inside the extraction
    task (the audit measured warm 4.3 s vs 16.5 s without the spread
    at 80k banks).

    Every physical line is kept with its 1-based ``line_no`` (line
    ends' ``\\r`` stripped) and NULL ``tags``; each consumer drops its
    own header rows (:func:`member_slice`).  A member of ``n_cols``
    ({member: header field count}) with a data line of another
    :func:`field_count` is repaired while the task holds its text:
    its lines, joined, go through :func:`repair_member_text`, and the
    member's rows are its two header lines and then the repaired lines
    from ``line_no`` 3, every row tagged with the repairs that fired
    (possibly none).  :class:`ZipFrame` persists the frame once per
    zip for every reader."""
    bin_df = spark.read.format("binaryFile").load(zip_path)
    members = sorted(members)
    n_cols = n_cols or {}

    def member_rows(m: str, text: str) -> pd.DataFrame:
        lines = text.split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        values = [ln.rstrip("\r") for ln in lines]
        tags = None
        n = n_cols.get(m)
        if n is not None and any(field_count(v) != n for v in values[2:]):
            repaired, tags = repair_member_text("\n".join(values), n)
            values = values[:2] + repaired.split("\n")[2:]
        return pd.DataFrame(
            {
                "member": m,
                "line_no": range(1, len(values) + 1),
                "value": values,
                "tags": [tags] * len(values),
            }
        )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    for m in members:
                        yield member_rows(
                            m, zf.read(m).decode("utf-8", errors="replace")
                        )

    from ffiec_pq_spark.session import spread

    return spread(
        bin_df.select("content").mapInPandas(
            extract,
            schema="member string, line_no long, value string, tags array<string>",
        )
    )


def member_slice(lines_all: DataFrame, member: str, skip: int = 2) -> DataFrame:
    """One member's (line_no, value) rows of a :func:`zip_lines_batch`
    frame after its first ``skip`` lines (2 for a schedule; the POR
    reader passes the skip it sniffed)."""
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
    frame, in one aggregation; the frame's other members are not read.

    Each member's type chars ride in a literal map, so a higher-order
    function checks each row's fields against :func:`problem_sql` where
    the row lies, and partial aggregation leaves one row per (task,
    member) for the only shuffle.  Counts equal :func:`member_stats`'s —
    pinned by parity tests."""
    types = ", ".join(
        sql_str(x)
        for m, spec in colspecs.items()
        for x in (m, "".join(tchar for _, tchar in spec))
    )
    problem = " ".join(f"WHEN '{t}' THEN {problem_sql('trim(x)', t)}" for t in "diD")
    rows = (
        lines_all.filter(
            F.col("member").isin(list(colspecs)) & (F.col("line_no") > 2)
        )
        .select(
            "member",
            _fields().alias("fields"),
            F.expr(f"element_at(map({types}), member)").alias("types"),
        )
        .groupBy("member")
        .agg(
            F.expr("sum(CAST(size(fields) != length(types) AS LONG))").alias("bad"),
            F.expr(
                "sum(CAST(exists(transform(fields, (x, i) -> CASE substr(types, "
                f"i + 1, 1) {problem} ELSE false END), p -> p) AS LONG))"
            ).alias("problems"),
        )
        .collect()
    )
    out = {m: (0, 0) for m in colspecs}  # empty members produce no rows
    for r in rows:
        out[r["member"]] = (int(r["bad"]), int(r["problems"]))
    return out


class ZipFrame:
    """One zip's persisted :func:`zip_lines_batch` frame over its
    ``schedules`` members (repaired in the extraction where their field
    counts are off) and its ``por`` member, their heads
    (:func:`zip_member_heads`) and, after :meth:`audit`, the schedule
    members' (n_bad, n_problems) counters and the repaired members'
    tags.  Leaving the ``with`` block (or :meth:`release`) unpersists
    the frame."""

    def __init__(
        self,
        spark: SparkSession,
        zip_path: str,
        schedules: list[str],
        por: str | None = None,
    ):
        self.spark = spark
        self.zip_path = zip_path
        members = schedules + ([por] if por else [])
        self.heads = zip_member_heads(zip_path, members)
        n_cols = {m: len(self.heads[m][0]) for m in schedules}
        self.lines = zip_lines_batch(spark, zip_path, members, n_cols).persist()
        self.colspecs: dict[str, list[tuple[str, str]]] = {}
        self.stats: dict[str, tuple[int, int]] = {}
        self.tags: dict[str, list[str]] = {}  # the repaired members only

    def audit(self, colspecs: dict[str, list[tuple[str, str]]]) -> None:
        """Audit the schedule members of ``colspecs`` in one
        :func:`lines_batch_stats` call, which also ``observe``s the
        repaired members' tags."""
        from pyspark.sql import Observation

        obs = Observation()
        tagged = self.lines.observe(
            obs,
            F.collect_set(
                F.when(F.col("tags").isNotNull(), F.struct("member", "tags"))
            ).alias("tags"),
        )
        self.colspecs = colspecs
        self.stats = lines_batch_stats(self.spark, tagged, colspecs)
        self.tags = {r["member"]: list(r["tags"]) for r in obs.get["tags"]}

    def release(self) -> None:
        self.lines.unpersist()

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
    audit): it parses the member's slice of the zip's line frame (its
    repaired lines, if the extraction repaired it) and costs no Spark
    job until the caller's terminal action.  ``ok`` is false when a
    line still has the wrong field count after the repair."""
    n_bad, n_problems = frame.stats[member]
    repairs = list(frame.tags.get(member, []))
    if n_problems:
        repairs = sorted({*repairs, "coerced-invalid-values"})
    audit = {"zipfile": frame.zip_path, "file": member, "repairs": repairs,
             "ok": not n_bad, "n_problems": n_problems}
    colspec = frame.colspecs[member]
    return parse_schedule_lines(member_slice(frame.lines, member), colspec), audit
