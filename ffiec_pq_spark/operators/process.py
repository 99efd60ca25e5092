"""The end-to-end FFIEC ETL pipeline (SURVEY.md §3 entry point 1;
reference ffiec_process, R/ffiec_process.R:494-587).

Per bulk zip:
1. member manifest + multipart validation (V4);
2. per (schedule, date): read each part (strict/repair TSV), fold with
   full-outer-join+coalesce (J1), append the report ``date`` column,
   convert pure-percent columns, write the wide parquet
   ``{schedule}_{YYYYMMDD}.parquet``;
3. unpivot each wide table by value type into the five long EAV tables
   with NULL-drop, dedup, and the fail-fast duplicate-key assertion;
4. POR member -> institution parquet;
5. audit rows accumulate into the process-log DataFrame (ArrayType
   ``repairs``/``inner_files`` — the reference's attribute side-channel
   as a real table, SURVEY.md §2.13).

Like the reference (which writes temp wide parquet and re-scans it
with DuckDB), the long build re-reads the written wide parquet files:
they are deliverables anyway, and a scan of finished columnar files is
cheaper than re-running each wide table's parse + combine lineage.

Each zip's central directory is parsed once (``zip_member_rows``) and
its schedule members are decompressed into lines once: the whole-zip
audit persists that line frame and every clean member is parsed from
its slice.  The zip's POR stage runs on the ETL thread pool alongside
its schedule groups.
"""

from __future__ import annotations

import os
import re
import threading
import time
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager
from datetime import date as _date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffiec_pq_spark.functions.scalars import pct_to_prop, pct_violation
from ffiec_pq_spark.operators.combine import combine_parts
from ffiec_pq_spark.operators.reshape import make_long_by_type
from ffiec_pq_spark.sources.manifest import (
    member_frame,
    resolve_n_parts,
    zip_member_rows,
)
from ffiec_pq_spark.sources.parquet import write_single_parquet
from ffiec_pq_spark.sources.por import read_por
from ffiec_pq_spark.sources.tsv import (
    lines_batch_stats,
    make_colspec,
    read_schedule_member,
    read_zip_member_header,
    zip_lines_batch,
)
from ffiec_pq_spark.session import local_frame

LONG_TYPE_NAMES = {
    "double": "float",
    "int": "int",
    "string": "str",
    "date": "date",
    "boolean": "bool",
}

_LOG_SCHEMA = T.StructType(
    [
        T.StructField("zipfile", T.StringType()),
        T.StructField("schedule", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("kind", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("repairs", T.ArrayType(T.StringType())),
        T.StructField("n_problems", T.LongType()),
        T.StructField("inner_files", T.ArrayType(T.StringType())),
    ]
)


class StageClock:
    """Opt-in per-stage wall-time accumulator for the ETL pipeline
    (``scripts/etl_bench.py`` threads one through ``ffiec_process`` to
    break the ingest's fixed cost down by stage).  Thread-safe: the
    per-group parse/combine work and each zip's POR stage run on the
    FIFO-scheduler thread pool, so a stage's accumulated seconds are summed THREAD-seconds —
    they can exceed the ingest wall clock when groups overlap, which
    is the point (they show where the work is, the wall shows how well
    it overlaps)."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = {}
        self._lock = threading.Lock()

    @contextmanager
    def stage(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            with self._lock:
                self.seconds[name] = self.seconds.get(name, 0.0) + dt

    def rounded(self) -> dict[str, float]:
        return {k: round(v, 3) for k, v in sorted(self.seconds.items())}


class _NullClock:
    """No-op StageClock (default: zero overhead when not benching)."""

    @contextmanager
    def stage(self, name: str):
        yield


_NULL_CLOCK = _NullClock()


def fix_pure_columns(df: DataFrame, pure_cols: list[str]):
    """Percent-string -> proportion for 'pure'-typed items, with the
    reference's hard guard: numeric-without-% must not occur
    (reference R/ffeic_read.R:585-597, guard :548-554).

    Returns ``(converted_df, check)``.  The violation count rides the
    consumer's OWN first action via ``observe()`` — zero extra Spark
    jobs, where a separate ``limit(1).count()`` probe cost one job per
    wide table.  Call ``check()`` after that action (e.g. the parquet
    write) to enforce the hard guard; it raises ``ValueError`` on any
    violating row."""
    present = [c for c in pure_cols if c in df.columns]
    if not present:
        return df, lambda: None
    from pyspark.sql import Observation

    flags = [pct_violation(c).cast("int") for c in present]
    any_viol = flags[0] if len(flags) == 1 else F.greatest(*flags)
    obs = Observation()
    out = df.observe(obs, F.sum(any_viol).alias("n_viol"))
    for c in present:
        out = out.withColumn(c, pct_to_prop(c))

    def check() -> None:
        n = obs.get["n_viol"]
        if n:
            raise ValueError(
                f"percent-format violation in pure columns {present} "
                f"({n} rows)"
            )

    return out, check


def _etl_pool() -> ThreadPoolExecutor:
    """The ETL's bounded thread pool (``FFIEC_ETL_PARALLELISM`` workers).

    The per-group, per-type and POR jobs are independent (distinct
    output files, no shared state), and each is many small Spark jobs
    on small inputs — so they are submitted from this pool and Spark's
    FIFO scheduler interleaves their stages across idle cores (the
    reference itself fans out per zip, R/ffiec_process.R:545-571)."""
    return ThreadPoolExecutor(
        max_workers=max(1, int(os.environ.get("FFIEC_ETL_PARALLELISM", "4")))
    )


def _run_each(pool: ThreadPoolExecutor, fn, items: list[tuple]) -> list:
    """``fn(*item)`` for every item on ``pool``; results in item order
    regardless of completion order.  Every call has finished when this
    returns or raises, so a caller may release what the calls read."""
    futures = [pool.submit(fn, *it) for it in items]
    try:
        return [f.result() for f in futures]
    finally:
        wait(futures)


def _nulls_first(v) -> tuple:
    return (v is not None, v)


def process_zip_schedules(
    spark: SparkSession,
    zip_path: str,
    type_dict: dict[str, str],
    out_dir: str,
    pure_cols: list[str] | None = None,
    strict: bool = False,
    clock: StageClock | None = None,
) -> tuple[list[dict], list[dict]]:
    """Stage 2: all schedules of one zip -> wide parquet files.

    Returns (wide_outputs, log_rows); each wide output dict carries the
    schedule, date, path, and part files that fed it."""
    with _etl_pool() as pool:
        return _zip_schedules(
            spark, zip_path, zip_member_rows(zip_path), type_dict, out_dir,
            pure_cols, strict, clock or _NULL_CLOCK, pool,
        )


def _zip_schedules(
    spark: SparkSession,
    zip_path: str,
    members: list,
    type_dict: dict[str, str],
    out_dir: str,
    pure_cols: list[str] | None,
    strict: bool,
    clock: StageClock,
    pool: ThreadPoolExecutor,
) -> tuple[list[dict], list[dict]]:
    """:func:`process_zip_schedules` over the zip's parsed member rows,
    with the groups submitted to ``pool``."""
    with clock.stage("manifest_validate"):
        manifest = member_frame(spark, members)
        validation = {
            (r["schedule"], r["date"]): r.asDict()
            for r in resolve_n_parts(manifest).collect()
        }
    # Spark's ascending orderBy(schedule, date, part, file): NULLs first
    sched_files = sorted(
        (r for r in members if r.schedule is not None and r.schedule != "por"),
        key=lambda r: (
            r.schedule, _nulls_first(r.date), _nulls_first(r.part), r.file
        ),
    )
    groups: dict[tuple, list] = {}
    for r in sched_files:
        groups.setdefault((r.schedule, r.date), []).append(r)

    def run_group(schedule: str, d, rows) -> tuple[dict | None, dict]:
        """One (schedule, date) group -> (wide output | None, log row)."""
        inner_files = [r.file for r in rows]
        val = validation.get((schedule, d), {})
        if val.get("errors"):
            return None, {
                "zipfile": zip_path,
                "schedule": schedule,
                "date": d,
                "kind": "schedule",
                "ok": False,
                "repairs": list(val["errors"]),
                "inner_files": inner_files,
            }
        parts, repairs, all_ok, releases = [], [], True, []
        n_problems = 0
        with clock.stage("parse_repair"):
            for r in rows:
                df, audit = read_schedule_member(
                    spark, zip_path, r.file, colspecs[r.file],
                    precomputed_stats=batch_stats[r.file],
                    batch_lines=zip_lines,
                )
                parts.append(df)
                repairs.extend(audit["repairs"])
                all_ok = all_ok and audit["ok"]
                n_problems += audit["n_problems"]
                releases.append(audit["unpersist"])
        if strict and not all_ok:
            # clean-read gate (reference ffiec_finalize_if_clean,
            # R/ffeic_read.R:654-685): an unrepairable member blocks the
            # whole (schedule, date) output; the failure is logged, not
            # silently partial
            for release in releases:
                release()
            return None, {
                "zipfile": zip_path,
                "schedule": schedule,
                "date": d,
                "kind": "schedule",
                "ok": False,
                "repairs": sorted({*repairs, "unrepairable"}),
                "n_problems": n_problems,
                "inner_files": inner_files,
            }
        with clock.stage("combine_write_wide"):
            wide = combine_parts(parts, keys=["IDRSSD"])
            wide = wide.withColumn("date", F.lit(d).cast("date"))
            wide, pure_check = fix_pure_columns(wide, pure_cols or [])
            out_path = os.path.join(
                out_dir, f"{schedule}_{d.strftime('%Y%m%d')}.parquet"
            )
            write_single_parquet(wide, out_path)
            try:
                # the violation count rode the write job (observe);
                # enforce the hard guard now, removing the tainted
                # deliverable
                pure_check()
            except ValueError:
                if os.path.exists(out_path):
                    os.remove(out_path)
                raise
            finally:
                for release in releases:
                    release()
        output = {
            "schedule": schedule, "date": d, "path": out_path,
            "inner_files": inner_files,
        }
        return output, {
            "zipfile": zip_path,
            "schedule": schedule,
            "date": d,
            "kind": "schedule",
            "ok": True,
            "repairs": sorted(set(repairs)),
            "n_problems": n_problems,
            "inner_files": inner_files,
        }

    # whole-zip audit batch: every member's (bad, problems) counters in
    # ONE Spark job (sources/tsv.py lines_batch_stats) instead of one
    # collect per member — at production member counts the per-member
    # scheduling overhead dominates the audit otherwise.  The extracted
    # line frame is persisted for the parse: each clean member reads
    # its slice, so the zip is decompressed into lines once.  It is
    # released once the zip's last wide write is done, also when a
    # group raises.  Headers are read driver-side (first-block
    # decompression only).
    zip_lines = None
    try:
        with clock.stage("audit_batch"):
            colspecs = {
                r.file: make_colspec(
                    read_zip_member_header(zip_path, r.file), type_dict
                )
                for r in sched_files
            }
            batch_stats = {}
            if colspecs:
                zip_lines = zip_lines_batch(
                    spark, zip_path, list(colspecs)
                ).persist()
                batch_stats = lines_batch_stats(spark, zip_lines, colspecs)
        results = _run_each(
            pool, run_group, [(s, d, rows) for (s, d), rows in groups.items()]
        )
    finally:
        if zip_lines is not None:
            zip_lines.unpersist()
    outputs, log_rows = [], []
    for output, log_row in results:
        if output is not None:
            outputs.append(output)
        log_rows.append(log_row)
    return outputs, log_rows


def make_long_pqs(
    spark: SparkSession, wide_outputs: list[dict], out_dir: str
) -> dict[str, str]:
    """Stage 3: type-partitioned long EAV tables across all wide outputs
    (reference make_long_pq, R/ffiec_make_long_pqs.R:103-115): unpivot by
    value type, drop NULLs, distinct, assert PK, one parquet per type."""
    by_type: dict[str, list[DataFrame]] = {}
    for out in wide_outputs:
        wide = spark.read.parquet(out["path"])
        longs = make_long_by_type(wide, ids=["IDRSSD", "date"])
        for t, df in longs.items():
            by_type.setdefault(t, []).append(df)

    def build_type(t: str, dfs: list[DataFrame]) -> tuple[str, str]:
        from functools import reduce

        merged = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=False), dfs
        )
        # ONE shuffle AND one job do all four steps: group by the PK,
        # collect the distinct values (cross-file repeats of the same
        # fact collapse), count PK violations, take the value, write.
        # The violation count rides the write job via observe() (the
        # fix_pure_columns pattern) — the old separate
        # ``filter(size>1).limit(1).count()`` probe cost one extra job
        # per type, half the stage's job count; on violation the
        # tainted deliverable is removed before the fail-fast raise
        # (the reference's assert_no_dups aborts before writing — the
        # end state, no file + an exception, is identical).
        from pyspark.sql import Observation

        grouped = merged.groupBy("IDRSSD", "date", "item").agg(
            F.collect_set("value").alias("vals")
        )
        obs = Observation()
        deduped = grouped.observe(
            obs, F.sum((F.size("vals") > 1).cast("long")).alias("n_dup")
        ).select(
            "IDRSSD", "date", "item", F.element_at("vals", 1).alias("value")
        )
        name = LONG_TYPE_NAMES.get(t, re.sub(r"\W+", "_", t))
        path = os.path.join(out_dir, f"ffiec_{name}.parquet")
        write_single_parquet(deduped, path)
        if obs.get["n_dup"]:
            if os.path.exists(path):
                os.remove(path)
            raise ValueError(
                f"duplicate keys found for ['IDRSSD', 'date', 'item'] in {t}"
            )
        return name, path

    # the per-type builds are independent (distinct output files), so
    # submit them from the same bounded thread pool the per-group wide
    # builds use and let the FIFO scheduler interleave their stages —
    # the round-12 stage breakdown had long_build as the warm ingest's
    # top stage (4.3 s) running its types strictly serially
    with _etl_pool() as pool:
        return dict(_run_each(pool, build_type, sorted(by_type.items())))


def merge_long_increment(
    spark: SparkSession,
    existing_path: str | None,
    increment: DataFrame,
    out_path: str,
) -> str:
    """Incremental long-table maintenance: fold a new quarter's facts
    into an existing long table without reprocessing history.

    The reference's incremental model is "re-run everything,
    idempotent overwrite" — fine for quarterly gigabytes, not for
    100 TB.  Here the merged table keeps the PK invariant the same way
    the full build does (one groupBy(PK) + collect_set shuffle over
    existing ∪ increment); a fact present in both inputs with the same
    value collapses silently, a conflicting value fails fast.  At real
    scale, date-partitioned layout (write_partitioned) makes this
    cheaper still: only the increment's date partitions are rewritten.
    """
    parts = [increment.select("IDRSSD", "date", "item", "value")]
    if existing_path and os.path.exists(existing_path):
        parts.append(
            spark.read.parquet(existing_path).select(
                "IDRSSD", "date", "item", "value"
            )
        )
    from functools import reduce

    merged = reduce(lambda a, b: a.unionByName(b), parts)
    grouped = merged.groupBy("IDRSSD", "date", "item").agg(
        F.collect_set("value").alias("vals")
    )
    if grouped.filter(F.size("vals") > 1).limit(1).count():
        raise ValueError(
            "merge_long_increment: conflicting values for an existing "
            "(IDRSSD, date, item) key"
        )
    deduped = grouped.select(
        "IDRSSD", "date", "item", F.element_at("vals", 1).alias("value")
    )
    return write_single_parquet(deduped, out_path)


def make_schedule_pq(
    spark: SparkSession, wide_outputs: list[dict], out_dir: str
) -> str:
    """Item -> schedules coverage table from wide-file footers only
    (reference make_schedule_pq, R/ffiec_make_long_pqs.R:119-127)."""
    from ffiec_pq_spark.sources.parquet import pq_cols

    rows = []
    for out in wide_outputs:
        for c in pq_cols(out["path"]):
            if c not in ("IDRSSD", "date"):
                rows.append((c, out["schedule"], out["date"]))
    df = (
        local_frame(spark, rows, "item string, schedule string, date date")
        .groupBy("item")
        .agg(
            F.sort_array(F.collect_set("schedule")).alias("schedule"),
            F.sort_array(F.collect_set("date")).alias("dates"),
        )
    )
    path = os.path.join(out_dir, "ffiec_item_schedules.parquet")
    write_single_parquet(df, path)
    return path


def process_zip_por(
    spark: SparkSession, zip_path: str, out_dir: str
) -> tuple[str | None, list[dict]]:
    """Stage 4: POR member -> institution parquet."""
    return _zip_por(spark, zip_path, zip_member_rows(zip_path), out_dir)


def _zip_por(
    spark: SparkSession, zip_path: str, members: list, out_dir: str
) -> tuple[str | None, list[dict]]:
    """:func:`process_zip_por` over the zip's parsed member rows (no
    Spark job to find the member)."""
    por_rows = [r for r in members if r.schedule == "por"]
    if not por_rows:
        return None, []
    r = por_rows[0]
    df, audit = read_por(spark, zip_path, r.file)
    d = r.date or _date(1900, 1, 1)
    df = df.withColumn("date", F.lit(r.date).cast("date"))
    path = os.path.join(out_dir, f"por_{d.strftime('%Y%m%d')}.parquet")
    write_single_parquet(df, path)
    log = [
        {
            "zipfile": zip_path,
            "schedule": "por",
            "date": r.date,
            "kind": "por",
            "ok": audit["ok"],
            "repairs": audit["repairs"],
            "inner_files": [r.file],
        }
    ]
    return path, log


POR_HISTORY_ATTRS = (
    "financial_institution_name",
    "financial_institution_state",
)


def por_institution_history(
    spark: SparkSession,
    por_paths: list[str],
    attrs: tuple[str, ...] = POR_HISTORY_ATTRS,
    close_on_absence: bool = False,
) -> DataFrame:
    """SCD type-2 institution history from the quarterly POR parquet
    snapshots ``ffiec_process`` writes (one full restatement of every
    institution's attributes per quarter — the reference re-reads the
    latest POR and OVERWRITES, R/ffeic_read.R:434-493 +
    R/ffiec_process.R, keeping no history; this keeps the restatements
    and collapses them into validity intervals).

    Returns (IDRSSD, *attrs, valid_from, valid_to, is_current): a new
    interval opens only where a tracked attribute (default: name,
    state) CHANGES between consecutive quarters.  ``valid_from`` /
    ``valid_to`` are report dates (half-open, NULL-tailed), so
    "what was this bank called when it filed X" becomes an as-of
    lookup (:func:`institution_asof`) instead of a manual
    latest-snapshot join.

    ``close_on_absence``: the POR is a FULL restatement, so a bank
    missing from a later quarter has LEFT (merged/closed) and its
    open interval must close at that quarter — unlike sparse
    snapshots (the weekly-events case) where absence just means "no
    activity".  Implemented by DENSIFYING each bank onto the global
    snapshot-date sequence from its first appearance on, with all
    attributes NULL where absent: the null-safe change detection then
    closes the last real interval at the first absent quarter and
    opens a NULL-attribute "departed" run, which is dropped from the
    returned history (re-appearing banks re-open naturally at the
    next non-NULL run).  Cost: one extra keys x dates join — linear,
    never pairwise."""
    from functools import reduce

    from ffiec_pq_spark.operators.windows import scd2_from_snapshots

    snaps = [
        spark.read.parquet(p).select("IDRSSD", "date", *attrs)
        for p in por_paths
    ]
    merged = reduce(lambda a, b: a.unionByName(b), snaps)
    if close_on_absence:
        dates = merged.select("date").distinct()
        first_seen = merged.groupBy("IDRSSD").agg(
            F.min("date").alias("_first")
        )
        grid = first_seen.join(
            F.broadcast(dates), F.col("date") >= F.col("_first")
        ).select("IDRSSD", "date")
        merged = grid.join(merged, ["IDRSSD", "date"], "left")
    hist = scd2_from_snapshots(merged, "IDRSSD", list(attrs), "date")
    if close_on_absence:
        # drop the NULL-attribute "departed" runs; the real intervals
        # they closed keep their valid_to at the departure quarter
        present = reduce(
            lambda a, b: a | b, [F.col(c).isNotNull() for c in attrs]
        )
        hist = hist.filter(present)
    return hist


def institution_asof(
    facts: DataFrame,
    history: DataFrame,
    fact_date: str = "date",
    attrs: tuple[str, ...] = POR_HISTORY_ATTRS,
) -> DataFrame:
    """Serve an as-of lookup from the SCD2 institution history: each
    fact row (keyed ``IDRSSD``, dated ``fact_date``) gains the
    attribute values valid AT its date — the most recent interval with
    ``valid_from <= fact_date``, which for snapshot-derived contiguous
    intervals is exactly the containing one.  One shuffle on the key
    (the ``asof_join`` union-interleave), no range-join explosion."""
    from ffiec_pq_spark.operators.windows import asof_join

    return asof_join(
        facts,
        history.select("IDRSSD", "valid_from", *attrs),
        key="IDRSSD",
        left_ts=fact_date,
        right_ts="valid_from",
        right_vals=list(attrs),
    )


def ffiec_process(
    spark: SparkSession,
    zip_paths: list[str],
    type_dict: dict[str, str],
    out_dir: str,
    pure_cols: list[str] | None = None,
    strict: bool = False,
    clock: StageClock | None = None,
) -> dict:
    """Full pipeline over N bulk zips; returns paths + the process log
    DataFrame (also written to ``ffiec_process_data.parquet``).

    ``strict=True`` enables the clean-read gate: schedule groups with an
    unrepairable member are logged and skipped instead of written.
    ``clock``: optional :class:`StageClock` accumulating per-stage
    seconds (manifest/validate, audit, parse, combine+wide-write, POR,
    long build, schedule coverage, log write) for the ETL bench."""
    clock = clock or _NULL_CLOCK
    os.makedirs(out_dir, exist_ok=True)
    all_wide, all_logs, all_long, por_paths = [], [], {}, []

    def por_stage(zp: str, members: list):
        with clock.stage("por"):
            return _zip_por(spark, zp, members, out_dir)

    with _etl_pool() as pool:
        for zp in zip_paths:
            members = zip_member_rows(zp)
            # the POR stage shares no input or output with the schedule
            # groups: run it on the pool, overlapping them
            por = pool.submit(por_stage, zp, members)
            wide, logs = _zip_schedules(
                spark, zp, members, type_dict, out_dir, pure_cols,
                strict, clock, pool,
            )
            all_wide.extend(wide)
            all_logs.extend(logs)
            por_path, por_logs = por.result()
            if por_path:
                por_paths.append(por_path)
            all_logs.extend(por_logs)
    if all_wide:
        with clock.stage("long_build"):
            all_long = make_long_pqs(spark, all_wide, out_dir)
        with clock.stage("schedule_pq"):
            make_schedule_pq(spark, all_wide, out_dir)
    with clock.stage("log_write"):
        log_df = local_frame(
            spark,
            [
                tuple(r.get(f.name) for f in _LOG_SCHEMA.fields)
                for r in all_logs
            ],
            _LOG_SCHEMA,
        ).orderBy("date", "schedule")
        # the sink's repartition(1) would discard the orderBy above
        # (round-robin shuffle); sort_by re-establishes it inside the
        # single writing task so the process-log FILE stays sorted
        write_single_parquet(
            log_df,
            os.path.join(out_dir, "ffiec_process_data.parquet"),
            sort_by=["date", "schedule"],
        )
    return {
        "wide": all_wide,
        "long": all_long,
        "por": por_paths,
        "log": log_df,
    }
