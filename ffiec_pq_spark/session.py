"""SparkSession factory.

Local testing runs ``local[N]`` in a single JVM; the configs below are
chosen so the same code is correct on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts self-tune from local[32]/sf0.1 up to 1000 executors / 100 TB.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; we
  default it to the local core count and let AQE coalesce.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every Python<->JVM batch boundary (pandas UDFs,
  toPandas) — the only sanctioned slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ffiec_pq_spark.resident import Memo


def get_spark(app_name: str = "ffiec_pq_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster the master/deploy settings come from spark-submit and
    the ``master`` call here is ignored.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")  # opt-in per scan
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos timestamp — read as long and convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4 wraps EVERY DataFrame/Column op to capture the
        # Python call site for error context: 3 py4j round trips per
        # op (conf read + origin set + clear).  Round-15 profile: 34%
        # of per-query driver plan-construction time.  Results and
        # JVM-side error context are unchanged; only the Python
        # call-site line in error messages is dropped (guide §1.2 —
        # per-task work includes the driver's plan construction).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Sessions whose confs ensure_session_confs already pinned, by
# applicationId: the pin itself is 3-4 py4j round trips and
# ensure_session_confs runs inside every load_table call (round-16
# profile: a visible slice of each query's driver time).  Pinning is
# idempotent for the session's lifetime — nothing legitimately unpins
# mid-session.
_CONFED_APPS = Memo("session_conf_pins")


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensively pin the runtime-settable confs our semantics rely on.

    The caller may hand us a session built without :func:`get_spark`
    (e.g. the round driver's own harness): without nanosAsLong, reading
    the TIMESTAMP(NANOS) events table raises PARQUET_TYPE_ILLEGAL; a
    non-UTC session timezone would shift timestamp values away from the
    UTC-naive DuckDB oracle.  Pinned once per applicationId."""
    try:
        key = (spark.sparkContext.applicationId,)
        if key in _CONFED_APPS:
            return
    except Exception:
        key = None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if key is not None:
        _CONFED_APPS[key] = True
    # perf, not semantics (safe on a caller-owned session): drop the
    # 3-py4j-calls-per-op Python call-site capture unless the caller
    # already pinned it explicitly.  PySpark caches the flag at first
    # use, so setting it in the first load_table of a bare driver
    # session covers that session's whole lifetime.
    try:
        if spark.conf.get(
            "spark.python.sql.dataFrameDebugging.enabled", None
        ) is None:
            spark.conf.set(
                "spark.python.sql.dataFrameDebugging.enabled", "false"
            )
    except Exception:
        pass  # conf API unavailable (mocked sessions in unit tests)


# Partition-count probe memo for spread(), keyed on (applicationId,
# analyzed-plan semanticHash): the probe itself (`df.rdd`) runs FULL
# physical planning on a fresh plan — measured ~80-120 ms of driver
# time per call (round 15), paid by every shingle/scoring builder on
# every invocation — while the answer is a pure function of (session,
# plan) because the same plan over the same files splits identically.
_SPREAD_COUNTS = Memo("spread_partition_probe")


def spread(df, min_partitions: int | None = None):
    """Repartition ONLY when the input has too few partitions to feed
    the cluster — the guard for compute-heavy operators (shingling,
    minhash, cosine) reading small/single-row-group files, where the
    scan yields 1 task and the whole computation runs on one core.

    On a real multi-split input (100 TB = thousands of splits) the
    condition is false and no shuffle is added."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
        n = _SPREAD_COUNTS.get_or_build(
            key, lambda: df.rdd.getNumPartitions()
        )
    except Exception:  # non-classic session (e.g. connect): probe direct
        n = df.rdd.getNumPartitions()
    if n < max(2, target // 2):
        return df.repartition(target)
    return df


def dataset_fingerprint(sf_dir: str) -> tuple:
    """Cheap on-disk identity of a dataset directory: the sorted
    (name, mtime_ns, size) of its ``*.parquet`` entries plus the
    (name, mtime_ns) of its ``k=v`` partition subdirectories — a
    handful of stat calls, no Spark.  A new partition adds an entry
    and rewriting one changes its directory's mtime, so folding this
    into every resident memo key makes staleness after an in-place
    dataset rewrite impossible by construction (the rewrite changes
    the key) instead of relying on callers remembering
    ``clear_all_resident_state()`` (the round-15 BM25-memo lesson)."""
    try:
        with os.scandir(sf_dir) as it:
            entries = []
            for e in it:
                if e.name.endswith(".parquet"):
                    st = e.stat()
                    entries.append((e.name, st.st_mtime_ns, st.st_size))
                elif "=" in e.name and e.is_dir():
                    entries.append((e.name, e.stat().st_mtime_ns))
            return tuple(sorted(entries))
    except OSError:
        return ("<unlistable>",)


def dataset_key(spark, sf_dir: str) -> tuple:
    """The canonical resident-memo key for per-(session, dataset)
    state: (applicationId, abspath, on-disk fingerprint).  Pass
    ``spark=None`` for memos that deliberately outlive sessions
    (driver-side model constants)."""
    return (
        spark.sparkContext.applicationId if spark is not None else None,
        os.path.abspath(sf_dir),
        dataset_fingerprint(sf_dir),
    )


# Loaded driver-table DataFrames per (applicationId, file, on-disk
# fingerprint): spark.read.parquet pays schema inference + file
# listing on EVERY call (~70 ms profiled round 16), and every query
# builder starts with 1-3 load_table calls.  A DataFrame is an
# immutable plan, so reusing the object is safe; the file's (mtime_ns,
# size) in the key picks up in-place rewrites automatically.
_TABLE_FRAMES = Memo("table_frames")


def local_frame(spark: SparkSession, rows, schema):
    """Build a small driver-side relation WITHOUT a pickled Python RDD.

    ``spark.createDataFrame(list)`` parallelizes the pickled rows:
    every JVM scan of the result launches ``defaultParallelism``
    Python-worker tasks just to unpickle them (profiled round 16:
    0.48 s per scan of a 5k-row two-column relation at local[32],
    75-280 ms per task — and relations like the CC labelling are
    scanned by several consumers per query).  Converting through
    pandas ships the same rows as Arrow record batches the JVM reads
    directly — no Python workers on any scan (same scan: 0.076 s).
    The result is additionally coalesced to a row-count-derived slice
    count (the input is a bounded driver-side list by construction,
    so a small layout is size-correct): a 32-slice layout would make
    every downstream stage pay 32 near-empty tasks.

    Values and schema are identical to the classic path (verified by
    tests for long/double/string payloads); falls back to the classic
    ``createDataFrame`` when pandas is unavailable or the conversion
    rejects the types (e.g. exotic nested values).  Without a
    ``sparkContext`` (Spark Connect) the frame is returned uncoalesced.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    from pyspark.sql import types as T

    st = (
        T._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    try:
        # without Arrow the pandas path degrades to per-row conversion
        # (same pickled RDD) — use the classic path there (a bare
        # caller session; get_spark sessions always enable Arrow)
        if (
            str(
                spark.conf.get(
                    "spark.sql.execution.arrow.pyspark.enabled", "false"
                )
            ).lower() != "true"
        ):
            return spark.createDataFrame(rows, st)
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=[f.name for f in st.fields])
        out = spark.createDataFrame(pdf, st)
    except Exception:
        return spark.createDataFrame(rows, st)
    try:
        parallelism = spark.sparkContext.defaultParallelism
    except AttributeError:
        # Spark Connect: the client has no SparkContext; keep the
        # server's layout of the local relation
        return out
    n_slices = max(1, min(parallelism, (len(rows) + 19999) // 20000))
    return out.coalesce(n_slices)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided synthetic table (TESTDATA.md).

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark reads (under
    the nanosAsLong legacy conf) as nanoseconds-since-epoch long; convert
    to Spark's native microsecond timestamp (floor division, matching
    DuckDB's CAST(ts_ns AS TIMESTAMP) truncation).
    """
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")

    def read():
        df = spark.read.parquet(path)
        return normalize_event_ts(df) if name == "events" else df

    try:
        st = os.stat(path)
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            (st.st_mtime_ns, st.st_size),
        )
    except Exception:
        # missing file (read below raises the standard error) or a
        # mocked session: skip the memo, keep the classic behavior
        return read()
    return _TABLE_FRAMES.get_or_build(key, read)


def normalize_event_ts(df):
    """Normalize ``events.ts`` to Spark's native (UTC) TIMESTAMP across
    the renderings different testdata generations use:

    - TIMESTAMP(NANOS) parquet + nanosAsLong conf -> LongType ns since
      epoch: integer-div to micros (ns ~1.7e18 exceeds double's exact
      range — no ``/``) and convert;
    - TIMESTAMP_NTZ (timestamp[us] parquet without tz annotation): cast
      under the UTC session zone — a value-preserving re-tag matching
      DuckDB's naive-UTC reading;
    - TIMESTAMP: already native.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
