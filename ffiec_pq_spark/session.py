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

Driver JVM class-data archive
-----------------------------
Most of a fresh driver JVM's start is loading Spark's classes from
the jars.  When :func:`get_spark` launches the JVM itself (no gateway
in the process yet), it starts it from a JDK dynamic class-data
archive (AppCDS), which maps the classes a previous run loaded instead
of loading them again (4 cores: bare session plus first job about 13 s
-> 7 s).  The contract:

- **Key.** ``ARCHIVE_DIR/<key>.jsa``, where the key hashes stat calls
  only (:func:`archive_key`): the real path of ``java`` and the JDK's
  ``release`` file, ``SPARK_HOME``, every jar's name, size and mtime,
  and the conf dir on the classpath.  A new JDK, Spark or jar set
  gets a new key.
- **Build on first use.** With no archive under the key, the launched
  JVM runs with ``-XX:ArchiveClassesAtExit=<key>.<pid>.part``, so the
  archive holds what that first process really loaded.  At interpreter
  exit a hook closes the JVM's stdin (its exit signal), waits up to
  ``DUMP_WAIT_S`` for it and publishes the part file with
  ``os.replace`` only on exit code 0; a killed, failed or timed-out
  dump is deleted, never published.  Publishing deletes the archives
  of other keys and part files whose writer process is gone, so the
  directory holds at most one archive.  That run pays the dump: on 4
  cores an ``etl_ingest`` benchmark run took 23 s of setup instead of
  about 13 s and an 18 s longer exit.
- **Use.** With an archive under the key the JVM starts with
  ``-XX:SharedArchiveFile``.  The JVM validates it and refuses a
  corrupt or mismatched one (silently at this log level), then loads
  classes from the jars as usual.
- **Conf dir.** A dump refuses a non-empty directory on the classpath.
  When the effective conf dir (``SPARK_CONF_DIR`` or
  ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files, the
  launch points ``SPARK_CONF_DIR`` at an empty dir in the cache, which
  gives Spark the same effective configuration.
- **JVM log.** The archive flags come with ``-Xlog:disable
  -Xlog:all=warning:stderr``, so CDS warnings go to stderr and a
  caller's last stdout line stays its own.
- **Fallbacks.** Every other case launches exactly as without the
  archive: a conf dir with any real file, an extra classpath source in
  the environment (``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``,
  ``SPARK_DIST_CLASSPATH``) or ``PYSPARK_SUBMIT_ARGS``, a JVM started
  outside the process (``PYSPARK_GATEWAY_PORT``), an unwritable or
  whitespace-bearing cache path, or a stat that fails.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess

from pyspark.sql import SparkSession

from ffiec_pq_spark.resident import Memo

# Next to the package, so a run writes nothing outside the checkout.
ARCHIVE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".jvm_archive",
)
# How long the exit hook waits for a dumping JVM; an ingest's dump
# takes about 18 s on 4 cores, a full test session's about 20 s.
DUMP_WAIT_S = 120
# Set, each of these changes the classpath or the launch itself.
_PLAIN_LAUNCH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT",
)
_JVM_LOG = "-Xlog:disable -Xlog:all=warning:stderr"


def _stat(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_size, st.st_mtime_ns


def _listing(path: str) -> list[tuple]:
    with os.scandir(path) as it:
        return sorted((e.name, *_stat(e.path)) for e in it)


def _java() -> str | None:
    """The ``java`` that ``spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def archive_key(java: str, spark_home: str, conf_dir: str) -> str:
    """The archive's cache key: a hash of stat calls only (no
    subprocess) over the JDK, ``SPARK_HOME``, its jars and the conf
    dir.  Raises ``OSError`` when a path is missing."""
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    parts = (
        java, _stat(java), _stat(os.path.join(jdk, "release")),
        os.path.realpath(spark_home),
        _listing(os.path.join(spark_home, "jars")),
        os.path.realpath(conf_dir), _listing(conf_dir),
    )
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def archive_file() -> str | None:
    """``ARCHIVE_DIR/<key>.jsa`` for this JDK, Spark and conf dir (it
    may not exist yet), or ``None`` when the driver JVM must launch
    without the archive (the module docstring's fallbacks).  Creates
    the cache's empty conf dir."""
    if any(os.environ.get(v) for v in _PLAIN_LAUNCH_ENV) or any(
        c.isspace() or c in "\"'" for c in ARCHIVE_DIR
    ):
        return None
    from pyspark.find_spark_home import _find_spark_home

    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
            spark_home, "conf"
        )
        java = _java()
        if java is None or not all(
            name.endswith(".template") for name, *_ in _listing(conf_dir)
        ):
            return None
        key = archive_key(java, spark_home, conf_dir)
        os.makedirs(os.path.join(ARCHIVE_DIR, "conf"), exist_ok=True)
    except OSError:
        return None
    if not os.access(ARCHIVE_DIR, os.W_OK):
        return None
    return os.path.join(ARCHIVE_DIR, f"{key}.jsa")


def _archive_launch() -> tuple[str, str, str | None] | None:
    """(java options, empty conf dir, part file to publish or
    ``None``) for a launch from the archive, or ``None`` for the plain
    launch."""
    final = archive_file()
    if final is None:
        return None
    conf_dir = os.path.join(ARCHIVE_DIR, "conf")
    if os.path.isfile(final):
        return f"-XX:SharedArchiveFile={final} {_JVM_LOG}", conf_dir, None
    part = f"{final[:-len('.jsa')]}.{os.getpid()}.part"
    return f"-XX:ArchiveClassesAtExit={part} {_JVM_LOG}", conf_dir, part


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _prune(keep: str) -> None:
    """Delete the other keys' archives and orphaned part files next to
    the archive ``keep``."""
    cache = os.path.dirname(keep)
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        fields = name.split(".")
        stale = (
            name.endswith(".jsa") and path != keep
        ) or (
            name.endswith(".part") and len(fields) == 3
            and fields[1].isdigit() and not _pid_alive(int(fields[1]))
        )
        if stale:
            try:
                os.remove(path)
            except OSError:
                pass


def _publish_at_exit(proc, part: str, wait_s: float = DUMP_WAIT_S) -> None:
    """Let the dumping JVM exit, then publish its archive if it exited
    cleanly (exit code 0 and a non-empty part file); otherwise delete
    the part file."""
    if proc.poll() is None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None and getattr(SparkContext._gateway, "proc", None) is proc:
            # stop first: the accumulator server would report the JVM's
            # exit as an EOFError traceback
            try:
                sc.stop()
            except Exception:  # noqa: BLE001 — the JVM still exits below
                pass
        try:
            proc.stdin.close()  # the gateway exits on stdin EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=wait_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    try:
        if proc.returncode == 0 and os.path.getsize(part) > 0:
            final = part.rsplit(".", 2)[0] + ".jsa"
            os.replace(part, final)
            _prune(final)
        else:
            os.remove(part)
    except OSError:
        pass


def _launch(builder):
    """``builder.getOrCreate()``, starting the driver JVM from the
    class-data archive when this call launches it."""
    from pyspark import SparkContext

    plan = None if SparkContext._gateway is not None else _archive_launch()
    if plan is None:
        return builder.getOrCreate()
    java_opts, conf_dir, part = plan
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.config(
            "spark.driver.extraJavaOptions", java_opts
        ).getOrCreate()
    finally:
        if prev is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = prev
    proc = getattr(SparkContext._gateway, "proc", None)
    if part is not None and proc is not None:
        atexit.register(_publish_at_exit, proc, part)
    return spark


def get_spark(app_name: str = "ffiec_pq_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster the master/deploy settings come from spark-submit and
    the ``master`` call here is ignored.  A JVM this call launches
    starts from the class-data archive (module docstring).
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
    spark = _launch(builder)
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
