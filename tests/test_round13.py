"""Round-13 hardening: bounded versioned state for the BM25 folds
(one state-dir pair at ANY trigger count, serve unchanged) and the
crash-window / replay contract of the epoch guard ordering."""

import os

import pytest
from pyspark.sql import functions as F

import ffiec_pq_spark.streaming.state as stmod
from ffiec_pq_spark.queries.round12b import (
    _BM25_DEL_MOD,
    _BM25_DEL_SLOT,
    _bm25_delete_build,
    _bm25_delete_fold,
    _bm25_serve,
    _bm25_stream_build,
)
from ffiec_pq_spark.session import load_table
from ffiec_pq_spark.streaming.state import retire_versions


def _version_dirs(workdir, name):
    return sorted(
        d for d in os.listdir(workdir)
        if d.startswith(f"{name}_v") and d[len(name) + 2:].isdigit()
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_kn3_distribution_sums_to_one(spark, sf_dir):
    """The interpolated modified-KN trigram distribution sums to
    EXACTLY 1 over the vocabulary for every context — the property
    that distinguishes a correctly interpolated estimator from a
    backoff with leaked mass (the bigram pin's trigram twin)."""
    from ffiec_pq_spark.queries.round13 import _kn3_model

    m = _kn3_model(spark, sf_dir)
    d1, d2, d3 = m["d"]
    e1, e2, e3 = m["e"]
    c3 = {
        (r["w1"], r["w2"], r["w3"]): r["c3"] for r in m["c3"].collect()
    }
    nc = {(r["w2"], r["w3"]): r["nc"] for r in m["nc"].collect()}
    ctx1 = {
        r["w2"]: (r["tc"], r["mm1"], r["mm2"], r["mm3"])
        for r in m["ctx1"].collect()
    }
    nu = {r["w3"]: r["nu"] for r in m["nu"].collect()}
    uu = m["uu"]
    vocab = list(nu)
    assert len(vocab) > 10  # the sf0.001 synthetic corpus is ~31 types

    def disc(c, ds):
        return ds[0] if c == 1 else (ds[1] if c == 2 else ds[2])

    def p_mid(w2, w3):
        tc, mm1, mm2, mm3 = ctx1[w2]
        g_mid = (e1 * mm1 + e2 * mm2 + e3 * mm3) / tc
        c = nc.get((w2, w3), 0)
        top = (c - disc(c, (e1, e2, e3))) / tc if c > 0 else 0.0
        return top + g_mid * (nu[w3] / uu)

    # a few contexts spanning the count spectrum
    ctx_rows = sorted(
        m["ctx2"].collect(), key=lambda r: (-r["cc"], r["w1"], r["w2"])
    )
    picks = [ctx_rows[0], ctx_rows[len(ctx_rows) // 2], ctx_rows[-1]]
    for r in picks:
        w1, w2, cc = r["w1"], r["w2"], r["cc"]
        g_top = (d1 * r["nn1"] + d2 * r["nn2"] + d3 * r["nn3"]) / cc
        obs = {
            k[2]: v for k, v in c3.items() if k[0] == w1 and k[1] == w2
        }
        total = sum(
            (c - disc(c, (d1, d2, d3))) / cc for c in obs.values()
        )
        total += g_top * sum(p_mid(w2, w3) for w3 in vocab)
        assert abs(total - 1.0) < 1e-9, (w1, w2, total)


def test_clear_all_resident_state_recertifies(spark, sf_dir):
    """The unified registry clears EVERY resident cache in one call,
    and resident-backed queries rebuilt from cold reproduce their
    pre-clear results exactly (no cache poisoning, no stale serve)."""
    import ffiec_pq_spark.catalog as catalog
    import ffiec_pq_spark.queries.dedup as qdedup
    import ffiec_pq_spark.queries.round12b as r12b
    import ffiec_pq_spark.queries.similarity as qsim
    from ffiec_pq_spark.resident import (
        clear_all_resident_state,
        registered_memos,
    )

    queries = catalog.queries()
    memos = registered_memos()
    # every per-(session, dataset) cache in the engine is a registered memo
    assert set(memos) >= {
        "bm25_delete_state", "bm25_stream_state",
        "bounded_neardup_state", "component_labels",
        "incremental_dedup_state", "ivfpq_models", "neardup_live_runs",
        "pca_models", "probe_models", "probe_stats",
        "probe_stream_state",
        # round-13 resident assets
        "kn_stream_state", "kn3_scores", "scorecard_stream_state",
    }
    sample = [
        "embedding_probe_train_scores",  # _PROBE_MODELS
        "stream_bm25_index_fold",        # _BM25_STREAM_STATE
        "dedup_clusters",                # _CC_LABELS shared labelling
        "embedding_pca_scores",          # _PCA_MODELS
        "doc_kn_trigram",                # _KN3_SCORES (round 13)
        "stream_scorecard_fold",         # _SC_STREAM_STATE (round 13)
    ]
    import ffiec_pq_spark.queries.round13 as r13
    import ffiec_pq_spark.queries.round13f as r13f

    before = {n: _rows(queries[n](spark, sf_dir)) for n in sample}
    caches = [
        r12b._PROBE_MODELS, r12b._BM25_STREAM_STATE,
        qdedup._CC_LABELS, qsim._PCA_MODELS,
        r13._KN3_SCORES, r13f._SC_STREAM_STATE,
    ]
    assert all(len(c) > 0 for c in caches)
    cleared = clear_all_resident_state()
    assert set(cleared) == set(memos)
    assert all(len(c) == 0 for c in caches)
    # the BM25 stream state's backing directory is gone too (a stale
    # workdir would be silently re-served by a surviving memo)
    after = {n: _rows(queries[n](spark, sf_dir)) for n in sample}
    assert all(len(c) > 0 for c in caches)  # rebuilt from cold
    assert after == before


def test_clear_all_sweeps_despite_failing_hook():
    from ffiec_pq_spark import resident

    calls = []

    def boom(value):
        raise RuntimeError("hook failure")

    saved = dict(resident.registered_memos())
    try:
        resident._MEMOS.clear()
        memos = [
            resident.Memo("a_ok", drop=calls.append),
            resident.Memo("b_boom", drop=boom),
            resident.Memo("c_ok", drop=calls.append),
        ]
        for m in memos:
            m[(None, m.name)] = m.name[0]
        with pytest.raises(RuntimeError, match="hook failure"):
            resident.clear_all_resident_state()
        assert calls == ["a", "c"]  # sweep continued past the failure
        assert not any(memos)  # every memo emptied, the failing one too
    finally:
        resident._MEMOS.clear()
        resident._MEMOS.update(saved)


def test_retire_versions_window(tmp_path):
    for v in range(1, 8):
        os.makedirs(tmp_path / f"df_v{v}")
    os.makedirs(tmp_path / "df_vx")  # non-numeric: never touched
    os.makedirs(tmp_path / "dfx_v1")  # different name: never touched
    retire_versions(str(tmp_path), "df", 7)
    assert _version_dirs(str(tmp_path), "df") == ["df_v6", "df_v7"]
    assert (tmp_path / "df_vx").is_dir()
    assert (tmp_path / "dfx_v1").is_dir()


def test_bm25_insert_fold_state_bounded(spark, sf_dir):
    """~20 triggers leave exactly the current + predecessor state
    versions on disk, and the maintained index serves the identical
    relation as a small-trigger build (the fold is key-commutative)."""
    import shutil

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    st20 = _bm25_stream_build(spark, corpus, n_chunks=20)
    try:
        for name in ("df", "meta"):
            vdirs = _version_dirs(st20["workdir"], name)
            assert len(vdirs) <= 2, (name, vdirs)
        # the committed pointer is among the retained versions
        assert os.path.basename(st20["df"]) in _version_dirs(
            st20["workdir"], "df"
        )
        served20 = _rows(_bm25_serve(spark, d, st20))
    finally:
        shutil.rmtree(st20["workdir"], ignore_errors=True)
    st4 = _bm25_stream_build(spark, corpus, n_chunks=4)
    try:
        served4 = _rows(_bm25_serve(spark, d, st4))
    finally:
        shutil.rmtree(st4["workdir"], ignore_errors=True)
    assert served20 == served4 and len(served20) > 0


def test_bm25_delete_fold_state_bounded(spark, sf_dir):
    """The erasure fold under ~12 triggers: constant-bounded version
    dirs for all three state names, serve identical to the default
    build."""
    import shutil

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    st12 = _bm25_delete_build(spark, corpus, n_chunks=12)
    try:
        for name in ("df", "meta", "tomb"):
            vdirs = _version_dirs(st12["workdir"], name)
            assert len(vdirs) <= 2, (name, vdirs)
        tomb12 = spark.read.parquet(st12["tomb"]).select("doc_id")
        served12 = _rows(_bm25_serve(spark, d, st12, tomb=tomb12))
    finally:
        shutil.rmtree(st12["workdir"], ignore_errors=True)
    st3 = _bm25_delete_build(spark, corpus, n_chunks=3)
    try:
        tomb3 = spark.read.parquet(st3["tomb"]).select("doc_id")
        served3 = _rows(_bm25_serve(spark, d, st3, tomb=tomb3))
    finally:
        shutil.rmtree(st3["workdir"], ignore_errors=True)
    assert served12 == served3 and len(served12) > 0


def test_bm25_delete_fold_crash_replay(spark, sf_dir, tmp_path,
                                       monkeypatch):
    """Mid-fold crash contract on the BM25 delete path: a failure
    after a version write but before the pointers flip leaves the
    previous state intact AND the epoch unrecorded, so the redelivery
    RE-RUNS (not skips) and converges to the uncrashed result; the
    orphan partial version is swept by later retirement."""
    import shutil

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    deleted = corpus.filter(
        F.col("doc_id") % _BM25_DEL_MOD == _BM25_DEL_SLOT
    ).select("doc_id")
    batches = [
        deleted.filter(F.col("doc_id") % 3 == i) for i in range(3)
    ]
    assert all(b.count() > 0 for b in batches)

    def build_base(workdir):
        from ffiec_pq_spark.operators.text import tokens

        os.makedirs(workdir, exist_ok=True)
        tf0 = (
            corpus.select(
                "doc_id", F.explode(tokens("text")).alias("term")
            )
            .filter(F.col("term") != "")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        tf_dir = os.path.join(workdir, "tf")
        tf0.write.parquet(tf_dir)
        tf = spark.read.parquet(tf_dir)
        dl_dir = os.path.join(workdir, "dl")
        tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).write.parquet(
            dl_dir
        )
        dl = spark.read.parquet(dl_dir)
        df0 = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        meta0 = corpus.join(dl, "doc_id", "left").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias(
                "sum_dl"
            ),
        )
        state = {
            "df": None, "meta": None, "tomb": None, "version": 0,
            "epoch": -1,
        }
        stmod.emit_versioned(
            state, workdir,
            {
                "df": df0,
                "meta": meta0,
                "tomb": spark.createDataFrame([], "doc_id long"),
            },
        )
        return state, tf, dl

    # control: the uncrashed run
    ctrl_dir = str(tmp_path / "ctrl")
    ctrl_state, tf_c, dl_c = build_base(ctrl_dir)
    ctrl_fold = _bm25_delete_fold(spark, ctrl_state, ctrl_dir, tf_c, dl_c)
    for e, b in enumerate(batches):
        ctrl_fold(b, e)

    # crashed run: epoch 1's first delivery dies after writing one
    # relation's version dir (mirroring emit_versioned's real order:
    # the version counter increments before any write)
    crash_dir = str(tmp_path / "crash")
    state, tf, dl = build_base(crash_dir)
    real_emit = stmod.emit_versioned
    flag = {"fail": False}

    def flaky_emit(st, workdir, rels):
        if flag["fail"]:
            flag["fail"] = False
            st["version"] += 1
            name, rel = next(iter(rels.items()))
            rel.write.parquet(
                os.path.join(workdir, f"{name}_v{st['version']}")
            )
            raise RuntimeError("injected mid-fold crash")
        real_emit(st, workdir, rels)

    monkeypatch.setattr(stmod, "emit_versioned", flaky_emit)
    fold = _bm25_delete_fold(spark, state, crash_dir, tf, dl)
    fold(batches[0], 0)
    v_before, ptr_before = state["version"], dict(
        df=state["df"], meta=state["meta"], tomb=state["tomb"]
    )
    flag["fail"] = True
    with pytest.raises(RuntimeError, match="injected"):
        fold(batches[1], 1)
    # crash window: pointers unflipped, previous version intact on
    # disk, epoch unrecorded -> the guard lets the redelivery through
    assert state["epoch"] == 0
    for name, p in ptr_before.items():
        assert state[name] == p and os.path.isdir(p), name
    orphan_v = state["version"]
    assert orphan_v == v_before + 1
    fold(batches[1], 1)  # redelivery re-runs
    assert state["epoch"] == 1
    fold(batches[1], 1)  # true duplicate of a FINISHED epoch: skipped
    assert state["version"] == orphan_v + 1
    fold(batches[2], 2)
    # the orphan partial version was swept by retirement
    for name in ("df", "meta", "tomb"):
        vdirs = _version_dirs(crash_dir, name)
        assert f"{name}_v{orphan_v}" not in vdirs, (name, vdirs)
        assert len(vdirs) <= 2, (name, vdirs)
    # end state converges bit-for-bit with the uncrashed control
    for name in ("df", "meta", "tomb"):
        got = _rows(spark.read.parquet(state[name]))
        want = _rows(spark.read.parquet(ctrl_state[name]))
        assert got == want, name
    shutil.rmtree(ctrl_dir, ignore_errors=True)
    shutil.rmtree(crash_dir, ignore_errors=True)


def test_mkn_discounts_clamped_on_nonmonotone_coc():
    """The sf0.1 regression: trigram count-of-counts (207, 121, 354,
    700) are non-monotone (n3 > n2), so raw Chen-Goodman D2/D3 go
    negative — which made backoff mass negative and some modified-KN
    probabilities < 0 (the oracle's ln threw).  The clamp pins every
    D_k into [0, k]; in-range estimates (the sf0.01 certification
    corpus) are untouched."""
    from ffiec_pq_spark.queries.round13 import _mkn_discounts

    d1, d2, d3 = _mkn_discounts(207, 121, 354, 700)
    assert 0.0 <= d1 <= 1.0 and 0.0 <= d2 <= 2.0 and 0.0 <= d3 <= 3.0
    assert d2 == 0.0 and d3 == 0.0  # the clamp is genuinely active
    i1, i2, i3 = _mkn_discounts(100, 50, 20, 10)  # monotone: untouched
    assert 0.0 < i1 < 1.0 and 0.0 < i2 < 2.0 and 0.0 < i3 < 3.0
