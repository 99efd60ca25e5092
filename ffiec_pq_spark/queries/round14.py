"""Round-14: the hybrid-retrieval MAINTAINED-ASSET lifecycle — the
fused RRF serve gets the insert/delete maintenance every other index
layer already has (BM25 folds, ANN tombstones, KN count fold/unlearn,
scorecard fold/unlearn):

- ``stream_rrf_fold`` — corpus documents AND their embeddings arrive
  as micro-batches; each ``foreachBatch`` fold maintains BOTH arms'
  index state (BM25 postings/lengths append + df/(n,Σdl) keyed merge;
  dense IVF cell rows append — a pure per-row function of the vector,
  final on arrival), and the serve fuses the two resident lists with
  the exact integer-micro RRF.  Certifies against the IDENTICAL
  oracle as ``retrieval_rrf_hybrid`` — incremental maintenance must
  not change a single fused rank.
- ``retrieval_unlearn`` — right-to-be-forgotten erasure for the fused
  serve: deleted ids tombstone out of BOTH arms, BM25 corpus
  statistics (df, n_docs, Σdl — the idf inputs) decrement EXACTLY,
  and the serve certifies against a full survivor recompute (the
  ``stream_bm25_delete_fold`` / ANN-tombstone precedents, fused).

Fold idempotence (stronger than the round-12 insert fold): every
append lands in a PER-EPOCH subdirectory written with overwrite, so a
crash inside the fold and the at-least-once redelivery that follows
rewrite the same epoch directory instead of double-appending; merged
state (df / meta / tombstones) goes through the versioned
write-all-then-flip-then-retire contract (``streaming/state.py``);
the replay guard records the epoch only after every write committed.

The reference (iangow/ffiec.pq) has no retrieval surface; these extend
the mandated training-data-pipeline layer under the established
certification discipline."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.streaming.state import read_state
from ffiec_pq_spark.resident import Memo, tracked_persist
from ffiec_pq_spark.session import dataset_key, load_table
from ffiec_pq_spark.queries.round13c import (
    _corpus_cells,
    _dense_rank_cells,
    _n_cells,
    _query_cells,
    _rrf_fuse,
    _rrf_sql,
    _valid_vectors,
)

_RRF_OUT_SCHEMA = (
    "q_id long, rank long, doc_id long, rrf_micro long, "
    "in_lex long, in_dense long"
)

# the shared unlearn slot (probe / KN / scorecard precedent)
_RRF_FORGET_MOD = 9
_RRF_FORGET_SLOT = 4


def _fusion_corpus(spark, sf_dir):
    """The fused index's ingest relation: one row per corpus id with
    the document text (BM25 arm) and/or its embedding (dense arm) —
    full-outer on id because either side may exist alone, exactly as
    the batch oracle treats the two slices independently."""
    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    docs_c = d.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("id"), "text"
    )
    emb_c = _valid_vectors(emb).filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    return docs_c.join(emb_c, "id", "full_outer")


def _rrf_serve(spark, sf_dir, st, ephemeral=False, tomb=None):
    """Fused serve against a maintained index state: BM25 arm through
    the shared :func:`~ffiec_pq_spark.queries.round12._bm25_rank_
    postings` plan over the resident postings, dense arm through the
    shared :func:`~ffiec_pq_spark.queries.round13c._dense_rank_cells`
    plan over the resident cell rows, fusion through the shared
    :func:`~ffiec_pq_spark.queries.round13c._rrf_fuse` — all three
    stages byte-identical to the batch query's plans.  ``tomb``
    anti-joins deleted ids out of BOTH arms (broadcast — erasure
    volume never keys a shuffle)."""
    import shutil

    from ffiec_pq_spark.queries.round12 import _bm25_rank_postings

    try:
        tf = read_state(spark, st["tf"]).select("doc_id", "term", "tf")
        dl = read_state(spark, st["dl"]).select("doc_id", "dl")
        cells = read_state(spark, st["cells"]).select(
            "doc_id", "_ce", "_nc", "cell"
        )
        if tomb is not None:
            tf = tf.join(F.broadcast(tomb), "doc_id", "left_anti")
            cells = cells.join(F.broadcast(tomb), "doc_id", "left_anti")
        df_t = read_state(spark, st["df"])
        stats = read_state(spark, st["meta"]).select(
            F.col("n_docs"),
            (
                F.col("sum_dl").cast("double")
                / F.nullif(F.col("n_docs"), F.lit(0))
            ).alias("avdl"),
        )
        d = load_table(spark, sf_dir, "documents")
        queries_txt = d.filter(F.col("doc_id") % 10 == 0)
        lex = _bm25_rank_postings(tf, dl, df_t, stats, queries_txt)
        # the query-side probe cells come from the resident memo (the
        # eval slice's validation + cell assignment is paid once per
        # session, not per serve)
        from ffiec_pq_spark.queries.round13c import _cell_frames

        qcell = _cell_frames(spark, sf_dir, st["nc"])[0]
        dense = _dense_rank_cells(qcell, cells)
        return _rrf_fuse(lex, dense).localCheckpoint(eager=True)
    finally:
        if ephemeral:
            shutil.rmtree(st["workdir"], ignore_errors=True)


def _rrf_insert_fold(spark, state, workdir, tf_dir, dl_dir, cells_dir):
    """The combined-arm insert fold as a module-level factory (testable
    for replay/crash behavior):

    - dense cell rows and BM25 postings/lengths are final on arrival
      and land in ``<dir>/epoch=<id>`` subdirectories written with
      OVERWRITE — an at-least-once redelivery (including one after a
      mid-fold crash) rewrites its own epoch directory instead of
      double-appending, so the data-sized appends are IDEMPOTENT per
      epoch (a strictly stronger contract than append-mode);
    - df and the (n_docs, Σdl) scalar MERGE by key through the
      versioned write-all-then-flip-then-retire state
      (:func:`~ffiec_pq_spark.streaming.state.emit_versioned`);
    - the replay guard records the epoch only AFTER every write
      committed (the established ordering: recording first would turn
      a post-crash redelivery into a silent skip)."""
    from ffiec_pq_spark.operators.text import tokens
    from ffiec_pq_spark.streaming.state import emit_versioned

    def fold(batch_df, epoch_id):
        if epoch_id <= state["epoch"]:
            return
        from concurrent.futures import ThreadPoolExecutor

        # dense arm: argmax cell per arriving vector (pure function of
        # the embedding -> final on arrival).  repartition(8): a
        # micro-batch arrives as ONE staged file, and a 1-file-per-epoch
        # cell table under-parallelizes the serve's candidate scan
        # (measured at 16x: dense serve 32.9 s from 4 single-file
        # epochs vs 16.3 s for the batch pass over the well-split
        # table); at 100 TB the cell table is cell-partitioned across
        # many files and this is its test-scale stand-in
        vec_b = _valid_vectors(
            batch_df.select(F.col("id").alias("vec_id"), "embedding")
        )
        cells_b = _corpus_cells(vec_b, state["nc"]).repartition(8)

        def _write_cells():
            cells_b.write.mode("overwrite").parquet(
                os.path.join(cells_dir, f"epoch={epoch_id}")
            )

        # lexical arm: postings + lengths for the batch's text docs.
        # tf is written from the UNCACHED plan and read back for the
        # derivations: the former .persist() froze the pre-AQE
        # 32-partition shuffle layout into the cache (cached plans are
        # exempt from AQE coalescing), so every epoch wrote 32
        # near-empty parquet files and every derivation ran 32-task
        # map sides — profiled round 16 at ~2.6 s of per-trigger fixed
        # cost, writes dominating.  AQE sizes the uncached write
        # (guide §6 output sizing at any scale), and the read-back is
        # the same rows from the state dir the fold was writing anyway.
        txt_b = batch_df.filter(F.col("text").isNotNull()).select(
            F.col("id").alias("doc_id"), "text"
        )
        tf_path = os.path.join(tf_dir, f"epoch={epoch_id}")
        tf_plan = (
            txt_b.select("doc_id", F.explode(tokens("text")).alias("term"))
            .filter(F.col("term") != "")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        # the two arms are independent jobs — overlap them (§2.6); the
        # epoch is recorded only after EVERY write committed, so a
        # failure in either arm leaves the epoch unrecorded and the
        # redelivery overwrites both epoch dirs idempotently
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut_cells = pool.submit(_write_cells)
            tf_plan.write.mode("overwrite").parquet(tf_path)
            tf_b = spark.read.parquet(tf_path)
            dl_b = tf_b.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
            dl_b.write.mode("overwrite").parquet(
                os.path.join(dl_dir, f"epoch={epoch_id}")
            )
            fut_cells.result()
        df_b = tf_b.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        meta_b = txt_b.join(dl_b, "doc_id", "left").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
        if state["df"] is not None:
            df_b = (
                read_state(spark, state["df"])
                .unionByName(df_b)
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
            )
            meta_b = (
                read_state(spark, state["meta"])
                .unionByName(meta_b)
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("sum_dl").cast("long").alias("sum_dl"),
                )
            )
        emit_versioned(state, workdir, {"df": df_b, "meta": meta_b})
        # record the epoch the INSTANT the non-idempotent keyed merge
        # commits (the established ordering: recording first would
        # turn a post-crash redelivery into a silent skip)
        state["epoch"] = epoch_id

    return fold


def _stage_chunks(corpus, workdir, n_chunks, chunk_order=None):
    """Stage the relation as mtime-ordered single-file chunks for the
    file-source stream (the ``_bm25_stream_build`` convention):
    chunked by ``pmod(id, n_chunks)``, arrival order a free parameter
    for the order-invariance tests."""
    staged = os.path.join(workdir, "staged")
    (
        corpus.withColumn(
            "_chunk", F.pmod(F.col("id"), F.lit(n_chunks)).cast("int")
        )
        .repartition(n_chunks, "_chunk")
        .write.partitionBy("_chunk")
        .mode("overwrite")
        .parquet(staged)
    )
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    t0 = 1_700_000_000
    order = list(chunk_order) if chunk_order else list(range(n_chunks))
    for pos, i in enumerate(order):
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


def _rrf_stream_build(
    spark, corpus, chunk_order=None, n_chunks=4, files_per_trigger=1
):
    """Run the ingest stream to completion and return the maintained
    fused-index state ``{workdir, tf, dl, cells, df, meta, nc}``
    (workdir kept — cleanup via the memo's drop or the
    ephemeral serve's finally).  ``files_per_trigger`` sizes the
    micro-batches (``scripts/stream_fold_bench.py`` A/Bs the
    per-trigger fixed cost against it at fixed corpus)."""
    import shutil
    import tempfile

    workdir = tempfile.mkdtemp(prefix="stream_rrf_")
    try:
        src = _stage_chunks(corpus, workdir, n_chunks, chunk_order)
        tf_dir = os.path.join(workdir, "tf")
        dl_dir = os.path.join(workdir, "dl")
        cells_dir = os.path.join(workdir, "cells")
        state = {
            "df": None, "meta": None, "version": 0, "epoch": -1,
            "nc": _n_cells(),
        }
        fold = _rrf_insert_fold(
            spark, state, workdir, tf_dir, dl_dir, cells_dir
        )
        q = (
            spark.readStream.format("parquet")
            .schema(corpus.schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .load(src)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            "workdir": workdir,
            "tf": tf_dir,
            "dl": dl_dir,
            "cells": cells_dir,
            "df": state["df"],
            "meta": state["meta"],
            "nc": state["nc"],
        }
    except BaseException:
        shutil.rmtree(workdir, ignore_errors=True)
        raise


# Resident maintained fused-index state per dataset_key(spark, sf_dir)
# + (n_cells,) — in a deployment these ARE the stored index tables the
# ingest stream maintains; the cell count joins the key because the
# scale harness re-parameterizes the geometry.
_RRF_STREAM_STATE = Memo("rrf_stream_state")


@register(
    "stream_rrf_fold",
    _rrf_sql(),  # the batch fusion's oracle, verbatim
    tags=["streaming", "retrieval", "similarity"],
)
def stream_rrf_fold(spark, sf_dir, chunk_order=None):
    """STREAMING maintenance for the HYBRID retrieval serve: corpus
    documents and their embeddings arrive as micro-batches and each
    ``foreachBatch`` fold keeps BOTH arms' index state fresh — BM25
    postings/lengths and dense IVF cell rows land as per-epoch
    idempotent writes (final on arrival; at 100 TB an INSERT into a
    term-partitioned / cell-partitioned table), document frequencies
    and the (n_docs, Σdl) scalar merge by key through bounded
    versioned state.  Per-trigger work is proportional to the BATCH,
    never the accumulated corpus; new documents enter the lexical
    postings AND the dense cell assignment in the same fold, so the
    fused ranks refresh atomically per trigger.

    The serve scores the eval-slice queries against the RESIDENT
    state through the batch query's exact plans (``_bm25_rank_
    postings`` + ``_dense_rank_cells`` + ``_rrf_fuse``) and the
    drained result certifies against the IDENTICAL oracle as
    ``retrieval_rrf_hybrid`` — maintaining the fused index
    incrementally must not change a single rank.  The fold is
    key-commutative (idempotent per-epoch appends + keyed sums), so
    certification holds under ANY arrival order.

    Resident per (session, dataset, geometry): a repeat call pays
    only the fused serve — the per-query cost of a deployment whose
    ingest stream runs continuously — while the cold column keeps the
    full fold replay visible.  An explicit ``chunk_order`` (the
    order-invariance test) always folds fresh."""
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    corpus = _fusion_corpus(spark, sf_dir)
    key = dataset_key(spark, sf_dir) + (_n_cells(),)
    st = _RRF_STREAM_STATE.get(key) if chunk_order is None else None
    if st is None:
        if corpus.isEmpty():
            return spark.createDataFrame([], _RRF_OUT_SCHEMA)
        st = _rrf_stream_build(spark, corpus, chunk_order)
        if chunk_order is None:
            _RRF_STREAM_STATE[key] = st
    if chunk_order is not None:
        return _rrf_serve(spark, sf_dir, st, ephemeral=True)
    # the RESIDENT FUSED TOP-K relation: the index state is immutable
    # between folds, so the served (eagerly checkpointed) fusion is
    # cached with it — repeat calls read the maintained asset, the
    # deploy's steady state; the next fold (a new state dict) or the
    # memo's clear invalidates it together with the state
    if st.get("serve") is None:
        st["serve"] = _rrf_serve(spark, sf_dir, st)
    return st["serve"]


# --------------------------------------------------------------------------
# retrieval_unlearn — exact erasure from the fused serve.


def _rrf_unlearn_sql() -> str:
    """Survivor replay: the full fusion oracle with the erased slot
    excluded from BOTH corpus arms."""
    return _rrf_sql(
        corpus_where=(
            f"WHERE doc_id % 10 <> 0 "
            f"AND NOT (doc_id % {_RRF_FORGET_MOD} = {_RRF_FORGET_SLOT})"
        ),
        dense_pred=(
            f"vec_id % 10 <> 0 "
            f"AND NOT (vec_id % {_RRF_FORGET_MOD} = {_RRF_FORGET_SLOT})"
        ),
    )


def _rrf_delete_fold(spark, state, workdir, tf, dl):
    """The erasure fold (module-level factory for replay/crash tests):
    per erasure batch, document frequencies DECREMENT by the deleted
    docs' term presence (a keyed lookup of the batch's postings — at
    100 TB a point lookup on the doc_id-partitioned postings table),
    the (n_docs, Σdl) scalar decrements from the length state (the
    membership relation: ``dl`` carries EVERY text doc, zero-length
    included, so embedding-only ids never decrement the document
    count), and tombstones append — all through versioned state with
    retirement.  Postings and cell rows stay immutable; the serve
    anti-joins the tombstones out of both arms."""
    from ffiec_pq_spark.streaming.state import emit_versioned

    def fold(batch_df, epoch_id):
        if epoch_id <= state["epoch"]:
            return
        batch_ids = batch_df.select("doc_id")
        del_tf = tf.join(F.broadcast(batch_ids), "doc_id", "left_semi")
        df_dec = del_tf.groupBy("term").agg(F.count(F.lit(1)).alias("dec"))
        df_prev = read_state(spark, state["df"])
        df_new = (
            df_prev.join(df_dec, "term", "left")
            .select(
                "term",
                (F.col("df") - F.coalesce(F.col("dec"), F.lit(0))).alias(
                    "df"
                ),
            )
            .filter(F.col("df") > 0)
        )
        # inner join against dl = text-corpus membership: only ids that
        # ARE documents decrement (n_docs, sum_dl); embedding-only ids
        # affect neither BM25 statistic
        dec_meta = batch_ids.join(dl, "doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_del"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("dl_del"),
        )
        meta_prev = read_state(spark, state["meta"])
        meta_new = meta_prev.crossJoin(F.broadcast(dec_meta)).select(
            (F.col("n_docs") - F.col("n_del")).alias("n_docs"),
            (F.col("sum_dl") - F.col("dl_del")).alias("sum_dl"),
        )
        tomb_new = read_state(spark, state["tomb"]).unionByName(batch_ids)
        emit_versioned(
            state, workdir,
            {"df": df_new, "meta": meta_new, "tomb": tomb_new},
        )
        state["epoch"] = epoch_id

    return fold


def _rrf_delete_build(spark, corpus, n_chunks=3):
    """One-time fused-index build (in a deployment: the stored tables
    the erasure stream maintains), then stream the erasure log through
    the decrement fold; returns the corrected state paths (workdir
    kept; cleanup via ``_RRF_DEL_STATE.clear()``)."""
    import shutil
    import tempfile

    from ffiec_pq_spark.operators.text import tokens
    from ffiec_pq_spark.streaming.state import emit_versioned

    workdir = tempfile.mkdtemp(prefix="stream_rrf_del_")
    try:
        nc = _n_cells()
        txt = corpus.filter(F.col("text").isNotNull()).select(
            F.col("id").alias("doc_id"), "text"
        )
        tf0 = (
            txt.select("doc_id", F.explode(tokens("text")).alias("term"))
            .filter(F.col("term") != "")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        tf_dir = os.path.join(workdir, "tf")
        tf0.write.parquet(tf_dir)
        tf = spark.read.parquet(tf_dir)
        # dl carries EVERY text doc (zero-length included) — it doubles
        # as the text-corpus membership relation the erasure fold's
        # n_docs decrement needs; zero-dl rows never score (no postings)
        dl_dir = os.path.join(workdir, "dl")
        (
            txt.join(
                tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl"),
            )
            .write.parquet(dl_dir)
        )
        dl = spark.read.parquet(dl_dir)
        cells_dir = os.path.join(workdir, "cells")
        vec = _valid_vectors(
            corpus.select(F.col("id").alias("vec_id"), "embedding")
        )
        _corpus_cells(vec, nc).write.parquet(cells_dir)
        df0 = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        meta0 = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
        state = {
            "df": None, "meta": None, "tomb": None, "version": 0,
            "epoch": -1,
        }
        emit_versioned(
            state, workdir,
            {
                "df": df0,
                "meta": meta0,
                "tomb": spark.createDataFrame([], "doc_id long"),
            },
        )

        erased = corpus.filter(
            F.col("id") % _RRF_FORGET_MOD == _RRF_FORGET_SLOT
        ).select("id")
        src = _stage_chunks(erased, workdir, n_chunks)
        fold = _rrf_delete_fold(spark, state, workdir, tf, dl)
        q = (
            spark.readStream.format("parquet")
            .schema("id long")
            .option("maxFilesPerTrigger", 1)
            .load(src)
            .writeStream.foreachBatch(
                lambda b, e: fold(b.select(F.col("id").alias("doc_id")), e)
            )
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            "workdir": workdir,
            "tf": tf_dir,
            "dl": dl_dir,
            "cells": cells_dir,
            "df": state["df"],
            "meta": state["meta"],
            "tomb": state["tomb"],
            "nc": nc,
        }
    except BaseException:
        shutil.rmtree(workdir, ignore_errors=True)
        raise


_RRF_DEL_STATE = Memo("rrf_delete_state")


@register(
    "retrieval_unlearn",
    _rrf_unlearn_sql(),
    tags=["streaming", "retrieval", "privacy"],
)
def retrieval_unlearn(spark, sf_dir):
    """EXACT erasure from the hybrid retrieval serve — the
    right-to-be-forgotten path for the fused index, completing the
    lifecycle triad (batch build / streaming insert fold / exact
    delete) the BM25, ANN, KN, probe, and scorecard layers already
    have.  Erasure requests arrive as micro-batches of ids and each
    fold keeps the FUSED serve exact without reindexing either arm:

    - dense arm: tombstones only — cell geometry is untouched by
      deletion (the ``ann_ivf_topk_deletes`` argument), so one
      broadcast anti-join over the cell rows suffices;
    - lexical arm: tombstones for the postings PLUS exact decrements
      of df and (n_docs, Σdl) — BM25 scores depend on corpus
      statistics, so tombstoning alone would serve stale idf (the
      ``stream_bm25_delete_fold`` argument);
    - fusion: ranks recompute from the corrected arms — a doc leaving
      one arm reorders the fused list, which is why erasure must hit
      both arms atomically.

    The serve certifies against the batch fusion oracle replayed over
    the SURVIVING corpus — fused erasure must reproduce full
    reindexing bit-for-bit, idf shifts and rank reshuffles included.
    Per-trigger work tracks the BATCH (a keyed postings lookup +
    k-row merges), never the corpus."""
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    corpus = _fusion_corpus(spark, sf_dir)
    key = dataset_key(spark, sf_dir) + (_n_cells(),)
    st = _RRF_DEL_STATE.get(key)
    if st is None:
        if corpus.isEmpty():
            return spark.createDataFrame([], _RRF_OUT_SCHEMA)
        st = _rrf_delete_build(spark, corpus)
        _RRF_DEL_STATE[key] = st
    # resident fused top-k over the erasure-corrected state (the
    # stream fold's convention): recomputed only when the state dict
    # itself is rebuilt or cleared
    if st.get("serve") is None:
        tomb = read_state(spark, st["tomb"]).select("doc_id")
        st["serve"] = _rrf_serve(spark, sf_dir, st, tomb=tomb)
    return st["serve"]


# --------------------------------------------------------------------------
# gate_ensemble_calibration — the LEARNED combination of the three
# quality gates.  The agreement matrix measured near-zero kappa between
# the heuristic, the trained probe, and the KN perplexity gate (they
# carry independent signal), and the stack-yield audit showed their
# intersections compound — so the natural next rung is to LEARN the
# combination instead of hand-stacking booleans: a least-squares linear
# combiner over the three scores, trained with the existing
# integer-grid GD (operators/linear_probe.py — transcendental-free by
# design, so the whole recursion replays bit-for-bit as unrolled SQL
# CTEs; a sigmoid would put an exp() inside the recursion and the two
# engines' libm could diverge).

# Feature quantization (exact on both engines; scales chosen so the
# integer-GD step divisor eta=40 is stable: the Gram trace in real
# units is ~0.007 << 2/eta — see the magnitude bounds in the
# docstring):  xq0 = 64 (bias 0.064 at the probe's SX=1000 grid),
# xq1 = round(quality * 64), xq2 = round(margin_micro / 16000.0),
# xq3 = round(avg_kn3_logprob * 15.625).  All three multipliers are
# exactly representable doubles (64, 16000, 15.625 = 2^-6 * 1000), the
# inputs are pinned (6 dp / int64 / 6 dp), and round() is
# half-away-from-zero on both engines.
_ENS_DIM = 4
_ENS_PCTS = (5, 10, 20, 30, 50)


def _ens_xq_sql() -> list:
    """The four quantized-feature expressions (SQL), index-aligned
    with :func:`_ens_xq_cols`."""
    return [
        "CAST(64 AS BIGINT)",
        "CAST(round(quality * 64, 0) AS BIGINT)",
        "CAST(round(margin_micro / 16000.0, 0) AS BIGINT)",
        "CAST(round(avg_kn3_logprob * 15.625, 0) AS BIGINT)",
    ]


def _ens_xq_cols():
    """The four quantized-feature expressions (Spark), index-aligned
    with :func:`_ens_xq_sql`."""
    return [
        F.lit(64).cast("long"),
        F.round(F.col("quality") * F.lit(64.0), 0).cast("long"),
        F.round(F.col("margin_micro") / F.lit(16000.0), 0).cast("long"),
        F.round(F.col("avg_kn3_logprob") * F.lit(15.625), 0).cast("long"),
    ]


def _ensemble_sql() -> str:
    """Unrolled integer-GD replay over the shared scoreable population
    (the ``_probe_ctes`` precedent, d=4): quantized gate-score
    features, exact int64 Gram/moment sums, five integer
    floor-division steps, then the calibration ladder over the exact
    integer ensemble score."""
    from ffiec_pq_spark.operators.linear_probe import (
        PROBE_D_PER_N,
        PROBE_ITERS,
        PROBE_SW,
        PROBE_SX,
    )
    from ffiec_pq_spark.queries.round13c import _pop_ctes

    ctes = _pop_ctes()
    idx = ", ".join(str(i) for i in range(_ENS_DIM))
    feats = ", ".join(_ens_xq_sql())
    ctes.append(
        f"""lab AS (
      SELECT vec_id AS doc_id,
             CASE WHEN coalesce(label, 0) = 0 THEN 1 ELSE 0 END AS y
      FROM embeddings
    )"""
    )
    # MATERIALIZED: every downstream reference (the Gram self-join, the
    # moment vector, the scoring pass, the count) would otherwise
    # INLINE the full pop chain — probe GD + KN3 estimation — once per
    # reference (the gate_stack_yield lesson: 8 inlined replays ran
    # 318 s and exhausted file handles); one materialization runs it
    # once.
    ctes.append(
        f"""fx AS MATERIALIZED (
      SELECT doc_id, unnest([{idx}]) AS i, unnest([{feats}]) AS xq
      FROM pop
    )"""
    )
    ctes.append(
        f"nn2 AS (SELECT count(*) // {_ENS_DIM} AS n FROM fx)"
    )
    ctes.append(
        """gram2 AS (
      SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS aa
      FROM fx a JOIN fx b USING (doc_id) GROUP BY 1, 2
    )"""
    )
    ctes.append(
        f"""bv2 AS (
      SELECT f.i, sum(f.xq * l.y) * {PROBE_SX * PROBE_SW} AS bs
      FROM fx f JOIN lab l USING (doc_id) GROUP BY f.i
    )"""
    )
    ctes.append("ew0 AS (SELECT i, CAST(0 AS BIGINT) AS v FROM bv2)")
    dd = f"(nn2.n * {PROBE_D_PER_N})"
    for t in range(PROBE_ITERS):
        ctes.append(
            f"""eg{t} AS (
      SELECT gr.i AS i, sum(gr.aa * w.v) - bv2.bs AS gg
      FROM gram2 gr JOIN ew{t} w ON w.i = gr.j JOIN bv2 ON bv2.i = gr.i
      GROUP BY gr.i, bv2.bs
    )"""
        )
        ctes.append(
            f"""ew{t + 1} AS (
      SELECT g.i,
             w.v - (CASE WHEN g.gg < 0 THEN -((-g.gg) // {dd})
                         ELSE g.gg // {dd} END) AS v
      FROM eg{t} g JOIN ew{t} w USING (i) CROSS JOIN nn2
    )"""
        )
    ctes.append(
        f"""escored AS (
      SELECT f.doc_id, l.y,
             CAST(sum(f.xq * w.v) AS BIGINT) AS ens_micro
      FROM fx f JOIN ew{PROBE_ITERS} w USING (i)
      JOIN lab l USING (doc_id)
      GROUP BY f.doc_id, l.y
    )"""
    )
    ctes.append(
        """eranked AS (
      SELECT doc_id, y,
             row_number() OVER (
               ORDER BY ens_micro DESC, doc_id ASC
             ) AS rank
      FROM escored
    )"""
    )
    pcts = ", ".join(str(p) for p in _ENS_PCTS)
    ctes.append(
        f"erung AS (SELECT unnest(CAST([{pcts}] AS BIGINT[])) AS thr_pct)"
    )
    ctes.append(
        r"""etok AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT thr_pct,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(sum(CASE WHEN kept THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS keep_rate,
           CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(sum(CASE WHEN kept AND y = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS pos_kept,
           CASE WHEN sum(CASE WHEN kept THEN 1 ELSE 0 END) = 0
                THEN NULL
                ELSE round(
                  sum(CASE WHEN kept AND y = 1 THEN 1 ELSE 0 END)
                  / CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END)
                         AS DOUBLE), 6)
           END AS pos_precision
    FROM (
      SELECT r.thr_pct, ra.y, t.n_tok,
             ra.rank <= greatest((nn2.n * r.thr_pct) // 100, 1) AS kept
      FROM eranked ra CROSS JOIN erung r CROSS JOIN nn2
      LEFT JOIN etok t ON t.doc_id = ra.doc_id
    )
    GROUP BY thr_pct
    """
    )


# Trained ensemble weights per dataset_key(None, sf_dir) (the
# _PROBE_MODELS convention): repeat calls score against the resident
# weights.
_ENSEMBLE_MODELS = Memo("ensemble_models")


def ensemble_weights(spark, sf_dir):
    """The trained 4-weight integer combiner (bias + the three gate
    scores), memoized per dataset.  ONE tiny grouped aggregation over
    the resident gated population (4 rows x 6 columns over the
    shuffle), then the driver-side integer GD on 128 bytes of
    state."""
    from ffiec_pq_spark.operators.linear_probe import probe_fit_int

    return _ENSEMBLE_MODELS.get_or_build(
        dataset_key(None, sf_dir),
        lambda: probe_fit_int(*_ens_stats(_ens_population(spark, sf_dir))),
    )


def _ens_stats_rows(base):
    """The sufficient-statistics RELATION of an
    ``_ens_population``-shaped frame: ONE grouped aggregation to 4
    rows ``(i, a0..a3, b, n)`` (the ``gram_moment_df`` shape, d=4).
    Being exact int64 SUMS, these rows MERGE across batches (keyed
    add — the streaming fold) and SUBTRACT for unlearning."""
    ex = base.select(F.posexplode("_xqa").alias("i", "xi"), "_xqa", "y")
    return ex.groupBy("i").agg(
        *[
            F.sum(F.col("xi") * F.element_at("_xqa", j + 1)).alias(f"a{j}")
            for j in range(_ENS_DIM)
        ],
        F.sum(F.col("xi") * F.col("y")).alias("b"),
        F.count(F.lit(1)).alias("n"),
    )


def _ens_stats(base):
    """(A, B, n) sufficient statistics of an ``_ens_population``-shaped
    frame: :func:`_ens_stats_rows` collected (128 bytes) for the
    driver-side integer GD."""
    from ffiec_pq_spark.operators.linear_probe import stats_rows_to_abn

    return stats_rows_to_abn(_ens_stats_rows(base).collect(), _ENS_DIM)


def _ens_population(spark, sf_dir):
    """(doc_id, y, _xqa): the resident gated population with its
    quantized feature array and label — shared by training and
    scoring so the two can never see different populations."""
    from ffiec_pq_spark.queries.round13c import _gated_frame

    lab = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        (F.coalesce(F.col("label"), F.lit(0)) == 0)
        .cast("long")
        .alias("y"),
    )
    return (
        _gated_frame(spark, sf_dir)
        .join(lab, "doc_id")
        .select("doc_id", "y", F.array(*_ens_xq_cols()).alias("_xqa"))
    )


@register(
    "gate_ensemble_calibration",
    _ensemble_sql(),
    tags=["quality", "curation", "iterative"],
)
def gate_ensemble_calibration(spark, sf_dir):
    """The LEARNED gate: a least-squares linear combination of the
    three certified quality scores (heuristic composite, trained-probe
    margin, modified-KN trigram log-prob — plus a bias), trained with
    the integer-grid GD of ``operators/linear_probe.py`` over the
    SHARED scoreable population (:func:`~ffiec_pq_spark.queries.
    round13c._gated_frame` — the same relation the agreement matrix
    and stack-yield audit read, so the family cannot drift), then
    swept through the standard calibration ladder (top 5/10/20/30/50%
    by exact integer ensemble score: keep rate, surviving tokens,
    positive-class precision).  This is the rung the near-zero kappas
    of ``gate_agreement_matrix`` point at: three independent signals
    are worth a learned weighting, not a hand-stacked AND.

    Cross-engine exactness: the three input scores are pinned; the
    quantized features are exact integers on both engines (literal
    power-of-two-friendly multipliers, half-away-from-zero rounds);
    the GD recursion is the transcendental-free integer one (unrolled
    CTE replay — see ``operators/linear_probe.py`` for why
    least-squares, not a sigmoid); ensemble scores are raw int64; the
    ladder cutoffs are exact integer floor division.

    Plan: ONE 4-row grouped aggregation over the resident gated
    population trains the combiner driver-side (128 bytes of state);
    scoring is a shuffle-free zip_with fold; the ladder is ONE
    :func:`distributed_rank` + a 5-literal explode + a broadcast
    token join + a <= 5-group aggregate."""
    scored = _ens_population(spark, sf_dir).select(
        "doc_id", "y",
        _ens_score_col(ensemble_weights(spark, sf_dir)).alias("ens_micro"),
    )
    return _ens_ladder(spark, sf_dir, scored)


def _ens_score_col(w_int):
    """Exact int64 ensemble score: zip_with fold of the quantized
    feature array against the trained integer weights (the
    ``probe_margins`` shape, d=4)."""
    w_arr = F.array(*[F.lit(int(v)).cast("long") for v in w_int])
    return F.aggregate(
        F.zip_with(
            F.col("_xqa"), w_arr,
            lambda x, w: F.coalesce(x * w, F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _ens_ladder(spark, sf_dir, scored):
    """The standard calibration ladder over a (doc_id, y, ens_micro)
    frame: ONE distributed rank feeding every rung, a 5-literal
    explode, a <= 5-group rollup — shared by the full-corpus
    calibration and the unlearn path so both sweep the identical
    construction.  ``n_tok`` is equi-joined into the scored population
    BEFORE the rank (one extra long column through the shuffle the
    rank already pays) and carries NO broadcast hint: both sides are
    corpus-sized, so forcing a hash table of one-row-per-document onto
    every executor would be the 100 TB scale killer; AQE picks the
    strategy from measured sizes instead."""
    from ffiec_pq_spark.operators.windows import distributed_rank

    n_tot = scored.agg(F.count(F.lit(1)).alias("_n"))
    from ffiec_pq_spark.operators.text import token_count

    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tok")
    )
    ranked = distributed_rank(
        scored.join(tok, "doc_id", "left"),
        [F.col("ens_micro").desc(), F.col("doc_id").asc()],
        rank_col="rank",
    )
    lad = (
        ranked.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "thr_pct",
            F.explode(
                F.array(*[F.lit(p).cast("long") for p in _ENS_PCTS])
            ),
        )
        .withColumn(
            "kept",
            F.col("rank")
            <= F.greatest(
                F.expr("(_n * thr_pct) div 100"), F.lit(1).cast("long")
            ),
        )
    )
    kept_l = F.col("kept").cast("long")
    pos_l = (F.col("kept") & (F.col("y") == 1)).cast("long")
    return lad.groupBy("thr_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(kept_l).alias("n_kept"),
        F.round(
            F.sum(kept_l) / F.count(F.lit(1)).cast("double"), 6
        ).alias("keep_rate"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
        F.sum(pos_l).alias("pos_kept"),
        F.when(F.sum(kept_l) == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.sum(pos_l) / F.sum(kept_l).cast("double"), 6)
        )
        .alias("pos_precision"),
    )


# --------------------------------------------------------------------------
# retrieval_cells_recall_curve — the QUALITY half of the IVF geometry
# story.  The scale harness measures the SPEED of sqrt-scaled cells
# (scripts/ivf_scale_bench.py); this query certifies what the pruning
# COSTS: recall@3 of the cell-pruned dense top-k against the exact
# ground truth, per cell count.  n_cells=1 probes every vector (the
# degenerate cell join IS brute force — same code path, so the truth
# arm needs no separate operator and no cartesian node), and the curve
# shows where recall falls off as cells grow.

_CURVE_CELLS = (1, 2, 4, 8)
_CURVE_QMOD = 100  # query sample: the truth arm is quadratic by design


def _cells_curve_sql() -> str:
    from ffiec_pq_spark.queries.round13c import (
        _DENSE_TOPK,
        _DIM,
        _EMB_PRED,
        _NPROBE,
    )
    from ffiec_pq_spark.operators.similarity import ivf_centroid

    ctes = [
        f"""exq AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings WHERE vec_id % {_CURVE_QMOD} = 0 AND {_EMB_PRED}
    )""",
        f"""exc AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings WHERE vec_id % 10 <> 0 AND {_EMB_PRED}
    )""",
        """qcnt AS (SELECT count(DISTINCT vec_id) AS nq FROM exq)""",
    ]
    for n in _CURVE_CELLS:
        cent_rows = ", ".join(
            f"({j}, {i + 1}, {v!r}::DOUBLE)"
            for j in range(n)
            for i, v in enumerate(ivf_centroid(_DIM, j))
        )
        ctes.append(
            f"cent_{n} AS (SELECT * FROM (VALUES {cent_rows}) AS t(c, i, v))"
        )
        for side, src, keep, idc in (
            ("qcell", "exq", f"rn <= {_NPROBE}", "q_id"),
            ("ccell", "exc", "rn = 1", "doc_id"),
        ):
            ctes.append(
                f"""{side}_{n} AS (
      SELECT vec_id AS {idc}, c FROM (
        SELECT e.vec_id, c.c,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(sum(e.x * c.v)
                   / nullif(sqrt(sum(e.x * e.x))
                            * sqrt(sum(c.v * c.v)), 0.0), 6)
                   DESC, c.c ASC
               ) AS rn
        FROM {src} e JOIN cent_{n} c ON e.i = c.i
        GROUP BY e.vec_id, c.c
        HAVING sum(e.x * e.x) > 0
      ) WHERE {keep}
    )"""
            )
        ctes.append(
            f"""topk_{n} AS MATERIALIZED (
      SELECT q_id, doc_id FROM (
        SELECT q.q_id, cc.doc_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY round(sum(a.x * b.x)
                   / nullif(sqrt(sum(a.x * a.x))
                            * sqrt(sum(b.x * b.x)), 0.0), 6)
                   DESC, cc.doc_id ASC
               ) AS d_rank
        FROM qcell_{n} q
        JOIN ccell_{n} cc ON cc.c = q.c
        JOIN exq a ON a.vec_id = q.q_id
        JOIN exc b ON b.vec_id = cc.doc_id AND b.i = a.i
        GROUP BY q.q_id, cc.doc_id
      ) WHERE d_rank <= {_DENSE_TOPK}
    )"""
        )
    arms = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({n} AS BIGINT) AS n_cells, q_id, doc_id FROM topk_{n}"
        for n in _CURVE_CELLS
    )
    ctes.append(f"arms AS ({arms})")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT a.n_cells,
           CAST(qc.nq AS BIGINT) AS n_queries,
           CAST(count(t.doc_id) AS BIGINT) AS n_overlap,
           CAST((count(t.doc_id) * 1000000)
                // ({_DENSE_TOPK} * qc.nq) AS BIGINT) AS recall_micro
    FROM arms a
    LEFT JOIN topk_{_CURVE_CELLS[0]} t
      ON t.q_id = a.q_id AND t.doc_id = a.doc_id
    CROSS JOIN qcnt qc
    GROUP BY a.n_cells, qc.nq
    """
    )


@register(
    "retrieval_cells_recall_curve",
    _cells_curve_sql(),
    tags=["retrieval", "similarity", "eval"],
)
def retrieval_cells_recall_curve(spark, sf_dir):
    """Recall@3 of the IVF-pruned dense top-k vs the EXACT top-3, per
    coarse-quantizer cell count (1/2/4/8, nprobe=2) — the quality half
    of the cell-geometry story whose speed half the scale harness
    measures (sqrt-scaled cells, scripts/ivf_scale_bench.py): the
    curve says what candidate pruning costs in recall as the cell
    count grows, which is how a deployment picks its cell budget
    against a recall floor.

    The ground truth IS the n_cells=1 arm: with one cell every corpus
    vector is a candidate, so the same cell-join plan degenerates to
    exact brute force — no separate all-pairs operator, no cartesian
    node (the 'join' is an equi-join on a constant cell id), and the
    anchor row certifies the construction (recall_micro = 1000000 by
    definition).  Queries are a deterministic 1% id sample
    (``vec_id % 100 = 0``): a recall audit runs on a query sample
    precisely because its truth arm is quadratic by definition.

    Cross-engine exactness: the shared dense contract (6 dp-rounded
    cosines before every rank, id tiebreaks, the ``_EMB_PRED`` /
    zero-norm exclusions, nullif-guarded norms); overlap counts and
    the recall micros are exact integers.

    Plan: one pass per arm through the shared
    :func:`~ffiec_pq_spark.queries.round13c._corpus_cells` /
    :func:`_query_cells` / :func:`_dense_rank_cells` helpers; the
    truth list is persisted and broadcast into each arm's overlap
    join; the rollup is a 4-group aggregate."""
    emb = _valid_vectors(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") % _CURVE_QMOD == 0)
    c = emb.filter(F.col("vec_id") % 10 != 0)
    n_q = q.count()
    arms = {}
    for n in _CURVE_CELLS:
        arms[n] = _dense_rank_cells(
            _query_cells(q, n), _corpus_cells(c, n)
        ).select("q_id", "doc_id")
    truth = tracked_persist(arms[_CURVE_CELLS[0]])
    out = None
    for n in _CURVE_CELLS:
        arm = (
            arms[n] if n != _CURVE_CELLS[0] else truth
        ).withColumn("n_cells", F.lit(n).cast("long"))
        hit = arm.join(
            F.broadcast(truth.withColumn("_hit", F.lit(1))),
            ["q_id", "doc_id"],
            "left",
        )
        out = hit if out is None else out.unionByName(hit)
    from ffiec_pq_spark.queries.round13c import _DENSE_TOPK

    return out.groupBy("n_cells").agg(
        F.lit(n_q).cast("long").alias("n_queries"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
        .cast("long")
        .alias("n_overlap"),
    ).withColumn(
        "recall_micro",
        F.expr(f"(n_overlap * 1000000) div ({_DENSE_TOPK} * n_queries)"),
    )
