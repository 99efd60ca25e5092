"""The stream-fold harness (ffiec_pq_spark.streaming.state): one module
owns the foreachBatch drain, the chunk staging and the replay guard;
retired state versions leave the read_state memo; and the registry's
certification order is computed from the committed records."""

import collections
import glob
import json
import os

import pyspark.sql.functions as F

import ffiec_pq_spark

PKG_DIR = os.path.dirname(os.path.abspath(ffiec_pq_spark.__file__))
REPO_DIR = os.path.dirname(PKG_DIR)


def test_only_the_harness_calls_foreach_batch():
    """Every fold drains through ``streaming.state.drain``: no other
    package module builds its own foreachBatch query."""
    offenders = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG_DIR)
            if rel == os.path.join("streaming", "state.py"):
                continue
            with open(path) as fh:
                if ".foreachBatch(" in fh.read():
                    offenders.append(rel)
    assert offenders == []


def test_streams_stage_through_stage_chunks():
    """Stream inputs are staged with ``stage_chunks``: a hash
    ``repartition(4, key % 4)`` write puts two of the four keys into
    one file (``spark.range(1000)`` splits 250/500/250), so no module
    stages that way."""
    offenders = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as fh:
                    if "repartition(4, F.col(" in fh.read():
                        offenders.append(name)
    assert offenders == []


def test_stage_chunks_order_mtimes_and_empty_chunk(spark, tmp_path):
    from ffiec_pq_spark.streaming.state import stage_chunks

    # ids 0..11 into chunks 0, 1, 3: chunk 2 is empty
    df = spark.range(12).withColumn(
        "c", F.when(F.col("id") < 4, 0).when(F.col("id") < 8, 1).otherwise(3)
    )
    order = [3, 2, 0, 1]
    src = stage_chunks(df, F.col("c"), 4, str(tmp_path), order)
    files = sorted(os.listdir(src))
    # the empty chunk stages no file; positions follow ``order``
    assert files == ["0000.parquet", "0002.parquet", "0003.parquet"]
    chunk_of = {
        f: {
            r["c"]
            for r in spark.read.parquet(os.path.join(src, f)).collect()
        }
        for f in files
    }
    assert chunk_of == {
        "0000.parquet": {3}, "0002.parquet": {0}, "0003.parquet": {1},
    }
    mtimes = [os.stat(os.path.join(src, f)).st_mtime_ns for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))


def test_retired_versions_leave_state_frames(spark, sf_dir, tmp_path):
    """``retire_versions`` drops the memoized frames of the versions it
    deletes, so a long-running fold keeps O(1) read_state entries."""
    from ffiec_pq_spark.queries.round13f import _sc_insert_fold
    from ffiec_pq_spark.session import load_table
    from ffiec_pq_spark.streaming.state import _STATE_FRAMES

    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    state = {"stats": None, "version": 0, "epoch": -1}
    fold = _sc_insert_fold(spark, state, str(tmp_path))
    for epoch in range(6):
        fold(docs.filter(F.col("doc_id") % 6 == epoch), epoch)
    assert state["version"] == 6
    root = os.path.abspath(str(tmp_path))
    mine = [k for k in _STATE_FRAMES if k[1].startswith(root)]
    assert len(mine) <= 2, mine
    docs.unpersist()


def test_catalog_order_is_least_certified_first():
    from ffiec_pq_spark import catalog

    counts = collections.Counter()
    for path in glob.glob(os.path.join(REPO_DIR, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            counts.update(json.load(fh).keys())
    names = list(catalog.queries())
    assert len(names) >= 50 and counts
    head = [counts[n] for n in names[:50]]
    rest = [counts[n] for n in names[50:]]
    assert max(head) <= min(rest)
    assert sorted(head) == sorted(counts[n] for n in names)[:50]
    assert list(catalog.oracles()) == [
        n for n in names if catalog._REGISTRY[n].oracle is not None
    ]


def _stream_workdirs(name):
    import tempfile

    return set(glob.glob(os.path.join(tempfile.gettempdir(), f"stream_{name}_*")))


def test_only_the_harness_creates_stream_workdirs():
    """Fold workdirs come from ``streaming.state.fold_workdir``: no
    other package module calls ``mkdtemp`` with a ``stream_`` prefix,
    or with a prefix the scan cannot read."""
    import ast

    offenders = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG_DIR)
            if not name.endswith(".py") or rel == os.path.join(
                "streaming", "state.py"
            ):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                func = getattr(node, "func", None)
                if getattr(func, "attr", getattr(func, "id", None)) != (
                    "mkdtemp"
                ):
                    continue
                prefix = next(
                    (k.value for k in node.keywords if k.arg == "prefix"),
                    None,
                )
                if not isinstance(prefix, ast.Constant) or (
                    prefix.value.startswith("stream_")
                ):
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []


def test_failed_one_off_serve_leaves_no_workdir(spark, sf_dir, monkeypatch):
    """A one-off run (explicit ``chunk_order``) whose serve raises
    still deletes its workdir."""
    import pytest

    from ffiec_pq_spark.queries import round13f

    def failing_serve(stats):
        raise RuntimeError("serve failed")

    before = _stream_workdirs("scorecard")
    monkeypatch.setattr(round13f, "_sc_serve", failing_serve)
    with pytest.raises(RuntimeError, match="serve failed"):
        round13f.stream_scorecard_fold(spark, sf_dir, chunk_order=[3, 1, 0, 2])
    assert _stream_workdirs("scorecard") - before == set()


def test_exit_sweep_deletes_resident_workdirs(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A resident fold's workdir outlives its serve and is deleted by
    the exit sweep.  The sweep runs over a fresh registry, so the
    other tests' resident state survives it."""
    import shutil

    from ffiec_pq_spark.queries import round13f
    from ffiec_pq_spark.session import dataset_key
    from ffiec_pq_spark.streaming import state

    monkeypatch.setattr(state, "_WORKDIRS", set())
    d = str(tmp_path)
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), d)
    key = dataset_key(spark, d)
    try:
        assert round13f.stream_scorecard_fold(spark, d).count() > 0
        workdir = round13f._SC_STREAM_STATE[key]["workdir"]
        assert os.path.isdir(workdir)
        state.sweep_workdirs()
        assert not os.path.exists(workdir)
    finally:
        round13f._SC_STREAM_STATE.pop(key, None)
