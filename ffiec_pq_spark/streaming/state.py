"""The stream-fold harness: staging, drain, and versioned parquet
state for ``foreachBatch`` folds.

Every fold in the registry runs the same shape:

1. :func:`stage_chunks` writes the input relation as single-file
   chunks ``src/{pos:04d}.parquet`` with strictly increasing mtimes,
   so the file source's oldest-first contract pins arrival order to
   the requested chunk order;
2. :func:`drain` streams ``src`` through ``foreachBatch`` with
   ``maxFilesPerTrigger`` and ``availableNow`` and blocks until every
   staged file is folded (checkpoint under ``workdir/ckpt``);
3. a keyed-merge fold built by :func:`versioned_fold` writes each
   trigger's merged relations to NEW immutable directories
   ``{name}_v{N}`` (:func:`emit_versioned`).

The fold contract (the MERGE-INTO stand-in at test scale):

- **Write all, then flip.**  Every relation of a trigger is written
  before any state pointer moves, so at every crash point the
  previous version is intact on disk and every pointer still names it.
- **Idempotent redelivery.**  ``foreachBatch`` is at-least-once.  A
  redelivered epoch at or below the recorded one is a no-op, and the
  epoch is recorded only AFTER the versioned write committed:
  recording it first would turn the redelivery that follows a
  mid-fold crash into a silent skip (at-most-once).  Data-sized
  writes a step makes itself (per-epoch ``epoch=N`` subdirs) use
  OVERWRITE, so a re-run rewrites them instead of double-appending.
- **Bounded state.**  :func:`retire_versions` deletes every version
  ``<= N - 2`` after version N commits: the current version plus its
  crash-recovery predecessor stay, nothing older is reachable.
  Partial directories from a mid-write crash are swept by the same
  rule once two newer versions commit, and retired directories leave
  the :func:`read_state` memo too.

This is the versioned-dir counterpart of the near-dup stream's
rename-swap compaction (``streaming/neardup.py:_recover_state_swap``):
there the state is one mutable dir with a swap window to protect; here
every version is immutable and retirement only touches versions no
pointer can reach.

The workdir lifecycle (who deletes a fold's ``stream_{name}_*`` dir,
and when) lives here too; no fold module creates or deletes one:

- :func:`fold_workdir` creates it.  If the block that builds the state
  raises, the workdir is deleted before the error propagates; a
  ``one_off`` block (a run whose result is materialized inside it)
  deletes it on every exit.
- :func:`serve_fold` chooses between resident and one-off use.
  Resident state is built once per memo key (a counted
  ``Memo.lookup``, stored on a miss unless the source is empty) and
  from then on belongs to the memo, whose drop deletes the workdir on
  eviction or clear.  A one-off state's workdir is deleted as soon as
  its serve has been materialized, whether the serve succeeded or
  raised.
- :func:`sweep_workdirs` runs at process exit and deletes every
  workdir this process created and still holds: the resident state
  nothing else would delete.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import re
import shutil
import tempfile

from pyspark.sql import functions as F

from ffiec_pq_spark.resident import Memo
from ffiec_pq_spark.session import dataset_key

# Loaded state-directory DataFrames per dataset_key(spark, path):
# every serve re-read its state dirs with spark.read.parquet, paying
# schema inference + file listing per call (profiled round 16: 5 x
# ~70 ms per warm BM25 serve = ~0.35 s of its 1.07 s).  A new or
# rewritten part file or ``k=v`` partition dir changes the key's
# fingerprint.  DataFrames are immutable plans — reuse is safe.
_STATE_FRAMES = Memo("stream_state_frames")


def read_state(spark, path: str):
    """Memoized ``spark.read.parquet(path)`` for fold state
    directories, keyed on ``session.dataset_key`` so a state dir that
    gains files or partitions is read fresh."""
    try:
        key = dataset_key(spark, path)
    except Exception:
        return spark.read.parquet(path)
    return _STATE_FRAMES.get_or_build(
        key, lambda: spark.read.parquet(path)
    )


def retire_versions(
    workdir: str, name: str, current: int, keep: int = 2
) -> None:
    """Delete superseded state versions ``{name}_v{k}`` (k <= current
    - keep) under ``workdir``.  ``current`` is the just-committed
    version; the retained window is ``current - keep + 1 .. current``.
    Safe to call after every trigger: deletion is idempotent and never
    touches the version any pointer (current) or crash-recovery path
    (current - 1) can reference.  The retired directories' memoized
    :func:`read_state` frames are dropped with them."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    pat = re.compile(re.escape(name) + r"_v(\d+)$")
    try:
        entries = os.listdir(workdir)
    except OSError:
        return
    retired = set()
    for entry in entries:
        m = pat.match(entry)
        if m and int(m.group(1)) <= current - keep:
            path = os.path.abspath(os.path.join(workdir, entry))
            shutil.rmtree(path, ignore_errors=True)
            retired.add(path)
    for key in [k for k in _STATE_FRAMES if k[1] in retired]:
        _STATE_FRAMES.pop(key)


def emit_versioned(state: dict, workdir: str, rels: dict) -> None:
    """Write each relation in ``rels`` (name -> DataFrame) to a fresh
    ``{name}_v{N}`` directory under ``workdir`` (one shared version
    counter ``state['version']``), flip the state pointers ONLY after
    every write committed, then retire superseded versions.

    A failure mid-way leaves every pointer on the previous version
    (the module docstring's crash contract).  Tests monkeypatch this
    single seam to simulate mid-fold crashes for every fold that uses
    it."""
    state["version"] += 1
    v = state["version"]
    paths = {}
    if len(rels) > 1:
        # the versioned relations are independent write jobs — overlap
        # them (guide §2.6).  The flip below still happens only after
        # EVERY write returned (futures joined), so the write-all-
        # then-flip crash contract is unchanged: a failure in any
        # write leaves every pointer on the previous version (the
        # partially written v-dirs are unreferenced and swept by
        # retire_versions once two newer versions commit).
        from concurrent.futures import ThreadPoolExecutor

        def _write(item):
            name, rel = item
            out = os.path.join(workdir, f"{name}_v{v}")
            rel.write.parquet(out)
            return name, out

        with ThreadPoolExecutor(max_workers=min(3, len(rels))) as pool:
            paths = dict(pool.map(_write, rels.items()))
    else:
        for name, rel in rels.items():
            out = os.path.join(workdir, f"{name}_v{v}")
            rel.write.parquet(out)
            paths[name] = out
    state.update(paths)
    for name in rels:
        retire_versions(workdir, name, v)


def versioned_fold(state: dict, workdir: str, step):
    """The ``foreachBatch(batch_df, epoch_id)`` callback for a keyed-
    merge fold: ``step(batch_df, epoch_id)`` returns the trigger's
    merged relations ``{name: DataFrame}``, which go through
    :func:`emit_versioned` (looked up at call time — the tests' crash
    seam) under the replay guard; the epoch is recorded only after the
    write committed.  ``state`` holds ``version``, ``epoch`` (start at
    ``-1``) and one pointer per relation name (start at ``None``)."""

    def fold(batch_df, epoch_id):
        if epoch_id <= state["epoch"]:
            return
        emit_versioned(state, workdir, step(batch_df, epoch_id))
        state["epoch"] = epoch_id

    return fold


def keyed_add(spark, prev_path, batch, keys, cols):
    """``batch``'s integer columns ``cols`` added by ``keys`` onto the
    state relation at ``prev_path`` (``batch`` itself for the first
    trigger) — the commutative merge of the statistics folds, so the
    drained state is the same under any arrival order."""
    if prev_path is None:
        return batch
    return (
        read_state(spark, prev_path)
        .unionByName(batch)
        .groupBy(*keys)
        .agg(*[F.sum(c).cast("long").alias(c) for c in cols])
    )


def stage_chunks(df, chunk, n_chunks: int, workdir: str, order=None) -> str:
    """Stage ``df`` as the file-source stream's input and return the
    ``src`` directory.

    Rows split by the int ``chunk`` column (values ``0 .. n_chunks -
    1``) in ONE write job: repartition on the chunk id puts each chunk
    in one task, so partitionBy writes one file per chunk dir (measured
    0.8 s vs 2.0 s for four serial ``coalesce(1)`` writes at sf0.1).
    The chunk at position ``pos`` of ``order`` (default: chunk id
    order) becomes ``src/{pos:04d}.parquet`` with a strictly increasing
    mtime, so the stream folds the chunks in that order.  An empty
    chunk stages no file and so costs no trigger."""
    staged = os.path.join(workdir, "staged")
    (
        df.withColumn("_chunk", chunk.cast("int"))
        .repartition(n_chunks, "_chunk")
        .write.partitionBy("_chunk")
        .mode("overwrite")
        .parquet(staged)
    )
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    t0 = 1_700_000_000
    for pos, i in enumerate(order if order else range(n_chunks)):
        chunk_dir = os.path.join(staged, f"_chunk={i}")
        if not os.path.isdir(chunk_dir):
            continue
        part = next(
            f for f in os.listdir(chunk_dir) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"{pos:04d}.parquet")
        os.rename(os.path.join(chunk_dir, part), dst)
        os.utime(dst, (t0 + pos * 10, t0 + pos * 10))
    return src


def drain(spark, src: str, schema, fold, workdir: str,
          files_per_trigger: int = 1) -> None:
    """Stream the parquet files under ``src`` through ``fold`` (a
    ``foreachBatch`` callback), ``files_per_trigger`` files per
    micro-batch, and block until everything available has been folded.
    The checkpoint lives at ``workdir/ckpt``: draining the same
    ``workdir`` again re-attaches and folds only files not yet
    committed."""
    q = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .load(src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# Every fold workdir this process created and has not deleted through
# the harness; :func:`sweep_workdirs` empties it at exit.
_WORKDIRS: set[str] = set()


def _remove_workdir(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    _WORKDIRS.discard(workdir)


def sweep_workdirs() -> None:
    """Delete every fold workdir this process still holds."""
    for workdir in list(_WORKDIRS):
        _remove_workdir(workdir)


atexit.register(sweep_workdirs)


@contextlib.contextmanager
def fold_workdir(name: str, one_off: bool = False):
    """Yield a new ``stream_{name}_*`` temp dir for a fold run.

    The dir is deleted if the block raises; with ``one_off`` it is
    deleted whenever the block exits.  Otherwise it outlives the block,
    owned by whoever the block hands the state to (see the module
    docstring), and the exit sweep deletes it at the latest."""
    workdir = tempfile.mkdtemp(prefix=f"stream_{name}_")
    _WORKDIRS.add(workdir)
    try:
        yield workdir
    except BaseException:
        _remove_workdir(workdir)
        raise
    if one_off:
        _remove_workdir(workdir)


def new_state(*pointers: str) -> dict:
    """The initial state of a :func:`versioned_fold`: no version
    written, no epoch recorded, every pointer ``None``."""
    return {**dict.fromkeys(pointers), "version": 0, "epoch": -1}


def serve_fold(memo, key, source, build, serve, empty, one_off=False):
    """Serve a fold over ``source``.

    ``build()`` drains the fold and returns its state ``{workdir,
    ...pointers}``; ``serve(state)`` returns the result frame;
    ``empty()`` is served instead when ``source`` has no rows (nothing
    is built or stored then).  Resident (the default): the state comes
    from ``memo[key]`` (a counted lookup), built and stored on a miss,
    and the memo owns its workdir.  ``one_off``: a fresh build whose
    workdir is deleted once the serve's result has been materialized
    (an eager ``localCheckpoint``) or the serve has raised."""
    if one_off:
        if source.isEmpty():
            return empty()
        st = build()
        try:
            return serve(st).localCheckpoint(eager=True)
        finally:
            _remove_workdir(st["workdir"])
    st = memo.lookup(key)
    if st is None:
        if source.isEmpty():
            return empty()
        st = memo[key] = build()
    return serve(st)
