"""The resident-memo contract (ffiec_pq_spark.resident.Memo): eviction
on store, stale-proof keys for rewritten and partitioned datasets,
bounded tracked persists, and one registry that sees every memo."""

import importlib
import os
import pkgutil
import shutil
import sys
import threading

import pytest

from ffiec_pq_spark import resident


@pytest.fixture
def scratch_registry():
    """Memos created inside the test stay out of the real registry."""
    saved = dict(resident._MEMOS)
    yield
    resident._MEMOS.clear()
    resident._MEMOS.update(saved)


def test_memo_store_evicts_other_app_entries(scratch_registry):
    dropped = []
    m = resident.Memo("t_apps", drop=dropped.append)
    m[("a", "/d1", ("fp",))] = "a1"
    m[("a", "/d2", ("fp",))] = "a2"
    m[(None, "/d1", ("fp",))] = "n1"
    m[("b", "/d1", ("fp",))] = "b1"
    assert sorted(dropped) == ["a1", "a2"]
    assert m == {(None, "/d1", ("fp",)): "n1", ("b", "/d1", ("fp",)): "b1"}
    # a None-app store leaves app entries alone
    m[(None, "/d2", ("fp",))] = "n2"
    assert sorted(dropped) == ["a1", "a2"] and len(m) == 3


def test_memo_store_evicts_stale_fingerprint_only(scratch_registry):
    dropped = []
    m = resident.Memo("t_fp", drop=dropped.append)
    m[(None, "/d", ("old",), 4)] = "old4"
    m[(None, "/d", ("old",), 8)] = "old8"
    m[(None, "/other", ("old",), 4)] = "other"
    m[(None, "/d", ("new",), 4)] = "new4"
    assert sorted(dropped) == ["old4", "old8"]
    assert set(m) == {(None, "/other", ("old",), 4), (None, "/d", ("new",), 4)}
    # replacing a value under its own key drops nothing
    m[(None, "/d", ("new",), 4)] = "new4b"
    assert sorted(dropped) == ["old4", "old8"]


def test_memo_get_or_build_memoizes_none(scratch_registry):
    m = resident.Memo("t_none")
    calls = []

    def build():
        calls.append(1)
        return None

    assert m.get_or_build((None, "/d", ()), build) is None
    assert m.get_or_build((None, "/d", ()), build) is None
    assert calls == [1]


def test_memo_counts_hits_misses_and_build_time(scratch_registry):
    m = resident.Memo("t_counts")

    def fail():
        raise ValueError("build failed")

    with pytest.raises(ValueError):
        m.get_or_build((None, "/d", ("v1",)), fail)
    for _ in range(3):
        m.get_or_build((None, "/d", ("v1",)), lambda: "x")
    m.get_or_build((None, "/d", ("v2",)), lambda: "y")
    assert (m.hits, m.misses) == (2, 3) and m.build_s > 0.0
    m.clear()  # counters are process-lifetime traffic, not entries
    entry = resident.resident_state_report()["t_counts"]
    assert entry == {
        "entries": 0, "disk_bytes": 0, "hits": 2, "misses": 3,
        "build_s": m.build_s,
    }


def test_memo_counters_lose_no_concurrent_hit(scratch_registry):
    m = resident.Memo("t_threads")
    key = (None, "/d", ("v",))
    m.get_or_build(key, lambda: "x")
    n_threads, n_calls = 16, 2000

    def hammer():
        for _ in range(n_calls):
            m.get_or_build(key, lambda: "unused")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert (m.hits, m.misses) == (n_threads * n_calls, 1)


def test_memo_default_drop_removes_workdirs(scratch_registry, tmp_path):
    m = resident.Memo("t_dirs")
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    m[(None, str(tmp_path), ("v1",))] = {"workdir": str(a)}
    m[(None, str(tmp_path), ("v2",))] = str(b)  # evicts the v1 entry
    assert not a.exists() and b.exists()
    assert resident.resident_state_report()["t_dirs"]["entries"] == 1
    m.clear()
    assert not b.exists() and not m


def test_every_module_dict_is_a_registered_memo():
    """A hand-rolled module-level memo dict would be invisible to
    clear_all_resident_state and resident_state_report: every
    upper-case module-level dict in the package must be a registered
    Memo, except the listed registries and constant lookup tables."""
    import ffiec_pq_spark
    import ffiec_pq_spark.catalog as catalog

    catalog.queries()
    for info in pkgutil.walk_packages(
        ffiec_pq_spark.__path__, "ffiec_pq_spark."
    ):
        importlib.import_module(info.name)
    allowed = {
        # registries
        "catalog._REGISTRY",
        "resident._MEMOS",
        # constant lookup tables, never written after import
        "operators.multimodal.MAGIC",
        "operators.process.LONG_TYPE_NAMES",
        "operators.reshape._PIVOT_FNS",
        "operators.skew._COMBINERS",
        "operators.text.LANG_MARKERS",
        "operators.text.PII_PATTERNS",
        "queries.corpus_ops._MIX_WEIGHTS",
        "queries.extensions._Q8",
        "queries.round13c._G",
        "queries.round9._STRATA_RATES",
        "sources.dictionary.LONG_DATA_TYPES",
        "sources.tsv.DEFAULT_OVERRIDES",
        "sources.tsv._SPARK_TYPES",
        "testing.fixtures.TYPE_DICT",
    }
    known = {id(m) for m in resident.registered_memos().values()}
    for name in allowed:
        mod, attr = name.rsplit(".", 1)
        known.add(id(getattr(sys.modules[f"ffiec_pq_spark.{mod}"], attr)))
    offenders = [
        f"{mod_name}.{attr}"
        for mod_name, mod in list(sys.modules.items())
        if mod_name.startswith("ffiec_pq_spark")
        for attr, value in vars(mod).items()
        if isinstance(value, dict)
        and attr.strip("_") and attr.upper() == attr
        and id(value) not in known
    ]
    assert not offenders, offenders


def test_memo_reads_are_counted():
    """``Memo.get`` is plain ``dict.get`` and bypasses the hit/miss
    counters: no package module calls ``.get(`` on a name bound to a
    ``Memo(`` (``lookup`` and ``get_or_build`` count)."""
    import re

    import ffiec_pq_spark

    sources = {}
    for root, _dirs, files in os.walk(ffiec_pq_spark.__path__[0]):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    sources[path] = fh.read()
    memos = {
        m for src in sources.values()
        for m in re.findall(r"^(\w+)\s*=\s*Memo\(", src, re.M)
    }
    assert len(memos) > 20
    offenders = [
        f"{os.path.basename(path)}: {m}.get("
        for path, src in sources.items()
        for m in memos
        if re.search(rf"\b{m}\.get\(", src)
    ]
    assert offenders == []


def test_read_state_sees_new_partition(spark, tmp_path):
    """A state dir made of ``k=v`` partition subdirs must not serve a
    memoized frame after a new partition lands."""
    from ffiec_pq_spark.streaming.state import read_state

    state = str(tmp_path / "state")
    spark.range(5).write.parquet(os.path.join(state, "epoch=0"))
    assert read_state(spark, state).count() == 5
    spark.range(7).write.parquet(os.path.join(state, "epoch=1"))
    assert read_state(spark, state).count() == 12
    assert spark.read.parquet(state).count() == 12


def test_rewrite_evicts_model_and_stream_state(spark, sf_dir, tmp_path):
    """An in-place rewrite (here: a new mtime) changes the dataset key;
    the next call rebuilds, and the memo keeps one entry for the path
    and deletes the stale entry's workdir."""
    from ffiec_pq_spark.queries.round12b import (
        _BM25_STREAM_STATE,
        stream_bm25_index_fold,
    )
    from ffiec_pq_spark.queries.similarity import (
        _KMEANS_MODELS,
        _kmeans_cents,
    )

    d = str(tmp_path)
    files = []
    for t in ("documents", "embeddings"):
        files.append(shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), d))

    def entries(memo):
        return {k: v for k, v in memo.items() if k[1] == d}

    cents = _kmeans_cents(spark, d)
    rows = sorted(stream_bm25_index_fold(spark, d).collect())
    (old_key,) = entries(_KMEANS_MODELS)
    (old_state,) = entries(_BM25_STREAM_STATE).values()
    assert os.path.isdir(old_state["workdir"])

    for f in files:
        st = os.stat(f)
        os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))

    assert _kmeans_cents(spark, d) == cents
    assert sorted(stream_bm25_index_fold(spark, d).collect()) == rows
    (new_key,) = entries(_KMEANS_MODELS)
    assert new_key != old_key
    (new_state,) = entries(_BM25_STREAM_STATE).values()
    assert new_state["workdir"] != old_state["workdir"]
    assert not os.path.exists(old_state["workdir"])
    assert os.path.isdir(new_state["workdir"])
    _BM25_STREAM_STATE.clear()


def test_tracked_persist_repeat_plan_adds_no_entry(spark, sf_dir):
    """A warm serve re-persists identical plans; the tracked reference
    is kept, so the memo does not grow."""
    from ffiec_pq_spark.catalog import queries

    q = queries()["dedup_minhash_lsh"]
    q(spark, sf_dir).collect()
    n = resident.resident_state_report()["query_persists"]["entries"]
    assert n >= 1
    q(spark, sf_dir).collect()
    assert resident.resident_state_report()["query_persists"]["entries"] == n


def test_ivfpq_model_memo_counts_its_traffic(spark, sf_dir):
    """The trained IVF-PQ model memo reads through the counted lookup:
    the first search misses, and a search that rebuilds the serve state
    (which a new session does; the test drops it) hits the resident
    model."""
    from ffiec_pq_spark.queries.round9c import (
        _IVFPQ_MODELS,
        _IVFPQ_SERVE,
        ann_ivfpq_residual_topk,
    )

    _IVFPQ_MODELS.clear()
    _IVFPQ_SERVE.clear()
    hits, misses = _IVFPQ_MODELS.hits, _IVFPQ_MODELS.misses
    ann_ivfpq_residual_topk(spark, sf_dir)
    _IVFPQ_SERVE.clear()
    ann_ivfpq_residual_topk(spark, sf_dir)
    assert _IVFPQ_MODELS.misses - misses >= 1
    assert _IVFPQ_MODELS.hits - hits >= 1
    report = resident.resident_state_report()["ivfpq_models"]
    assert report["hits"] >= 1 and report["misses"] >= 1
