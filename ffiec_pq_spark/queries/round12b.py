"""Round-12 second wave: five more first-class LLM-pipeline shapes —
a trained linear-probe quality classifier (the fastText-style filter
stage) plus its no-leakage heldout evaluation, Kneser-Ney smoothed LM
scoring (the strongest classical n-gram smoothing, used by CCNet-style
perplexity filters), streaming BM25 inverted-index maintenance
(retrieval index kept fresh by micro-batch folds), and
right-to-be-forgotten retraction from the duplicate-cluster state.

The reference (iangow/ffiec.pq) has no ML / retrieval surface; these
extend the mandated training-data-pipeline layer with the same
certification discipline as the existing trainers: DuckDB oracle
replaying the identical (integer-pinned) recursion, duplicate-collapse
proofs where applicable, resident-state memos
(:class:`~ffiec_pq_spark.resident.Memo`) keyed on the dataset."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.streaming.state import read_state
from ffiec_pq_spark.resident import Memo
from ffiec_pq_spark.session import dataset_key, load_table
from ffiec_pq_spark.queries.round12 import _BM25_TOPK_SQL
from ffiec_pq_spark.operators.linear_probe import (
    PROBE_D_PER_N,
    PROBE_ITERS,
    PROBE_SW,
    PROBE_SX,
    gram_moment,
    probe_fit_int,
    probe_margins,
)

_DIM = 64


# --------------------------------------------------------------------------
# embedding_probe_train_scores


def _probe_ctes(iters: int = PROBE_ITERS, train_pred: str = "") -> tuple:
    """Shared unrolled-GD CTE chain (see operators/linear_probe.py):
    quantized inputs, exact int64 Gram/moment sums over the ``tr``
    (training) slice, integer floor-division steps on nonnegative
    numerators — no float op anywhere in the recursion.  Returns
    ``(ctes, last_w_name)``; ``train_pred`` is a BARE predicate (no
    WHERE keyword — composed explicitly at each use site, never by
    string surgery on the caller's clause) restricting the slice the
    sufficient statistics (and the step divisor's n) are computed
    from — scoring always runs over the full ``ex``.

    Empty (zero-length, non-NULL) embedding arrays are excluded on
    BOTH engines as part of the operator contract: they carry no
    features (unnest yields no ex rows), so counting them in ``nn``
    while excluding them from ``scored`` would make the divisor, the
    row set, and the top-10%% cutoff disagree — the Spark side filters
    ``size(embedding) > 0`` to the same effect."""
    dd = f"(nn.n * {PROBE_D_PER_N})"
    base_pred = "embedding IS NOT NULL AND len(embedding) > 0"
    tr_where = f" WHERE {train_pred}" if train_pred else ""
    nn_and = f" AND {train_pred}" if train_pred else ""
    ctes = [
        f"""ex AS (
      SELECT vec_id,
             CASE WHEN coalesce(label, 0) = 0 THEN 1 ELSE 0 END AS y,
             generate_subscripts(embedding, 1) - 1 AS i,
             CAST(round(unnest(embedding)::DOUBLE * {PROBE_SX}, 0)
                  AS BIGINT) AS xq
      FROM embeddings WHERE {base_pred}
    )""",
        f"tr AS (SELECT * FROM ex{tr_where})",
        f"""nn AS (
      SELECT count(*) AS n FROM embeddings
      WHERE {base_pred}{nn_and}
    )""",
        """gram AS (
      SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS aa
      FROM tr a JOIN tr b USING (vec_id) GROUP BY 1, 2
    )""",
        f"""bv AS (
      SELECT i, sum(xq * y) * {PROBE_SX * PROBE_SW} AS bs
      FROM tr GROUP BY i
    )""",
        "w0 AS (SELECT i, CAST(0 AS BIGINT) AS v FROM bv)",
    ]
    for t in range(iters):
        ctes.append(
            f"""g{t} AS (
      SELECT gr.i AS i, sum(gr.aa * w.v) - bv.bs AS gg
      FROM gram gr JOIN w{t} w ON w.i = gr.j JOIN bv ON bv.i = gr.i
      GROUP BY gr.i, bv.bs
    )"""
        )
        ctes.append(
            f"""w{t + 1} AS (
      SELECT g.i,
             w.v - (CASE WHEN g.gg < 0 THEN -((-g.gg) // {dd})
                         ELSE g.gg // {dd} END) AS v
      FROM g{t} g JOIN w{t} w USING (i) CROSS JOIN nn
    )"""
        )
    return ctes, f"w{iters}"


def _probe_sql(iters: int = PROBE_ITERS) -> str:
    """Full-corpus training + scoring + top-10% keep gate (the batch
    quality-filter query): margins raw int64 micros, gate an exact
    integer rank cutoff."""
    ctes, last = _probe_ctes(iters)
    ctes.append(
        f"""scored AS (
      SELECT ex.vec_id, CAST(max(ex.y) AS BIGINT) AS y,
             CAST(sum(ex.xq * w.v) AS BIGINT) AS margin_micro
      FROM ex JOIN {last} w USING (i)
      GROUP BY ex.vec_id
    )"""
    )
    ctes.append(
        """ranked AS (
      SELECT vec_id, y, margin_micro,
             row_number() OVER (
               ORDER BY margin_micro DESC, vec_id ASC
             ) AS rank
      FROM scored
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT vec_id, y, margin_micro, CAST(rank AS BIGINT) AS rank,
           (rank <= greatest(nn.n // 10, 1)) AS kept
    FROM ranked CROSS JOIN nn
    """
    )


_HELDOUT_PRED = "vec_id % 5 <> 0"


def _probe_heldout_sql(iters: int = PROBE_ITERS) -> str:
    """Train on the 80% hash slice, gate each split at its own top-10%
    margin percentile, report the (split, y, kept) contingency — the
    no-leakage eval every deployed filter needs before its threshold
    is trusted.  All quantities exact integers."""
    ctes, last = _probe_ctes(iters, train_pred=_HELDOUT_PRED)
    ctes.append(
        f"""scored AS (
      SELECT ex.vec_id,
             CASE WHEN ex.vec_id % 5 <> 0 THEN 'train'
                  ELSE 'heldout' END AS split,
             CAST(max(ex.y) AS BIGINT) AS y,
             CAST(sum(ex.xq * w.v) AS BIGINT) AS margin_micro
      FROM ex JOIN {last} w USING (i)
      GROUP BY ex.vec_id
    )"""
    )
    ctes.append(
        """ranked AS (
      SELECT split, y, margin_micro,
             row_number() OVER (
               PARTITION BY split
               ORDER BY margin_micro DESC, vec_id ASC
             ) AS rank,
             count(*) OVER (PARTITION BY split) AS n_split
      FROM scored
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT split, y,
           (rank <= greatest(n_split // 10, 1)) AS kept,
           count(*) AS n
    FROM ranked
    GROUP BY split, y, kept
    """
    )


# Trained probes per dataset_key(None, sf_dir) (the _PCA_MODELS /
# _IVFPQ_MODELS convention): a repeat call scores against the resident
# weights — the steady-state cost of a deployed quality filter —
# instead of re-running the Gram aggregation and GD from zero.
_PROBE_MODELS = Memo("probe_models")


def probe_corpus(spark, sf_dir):
    """The probe operators' input contract in one place: non-NULL,
    non-empty embedding vectors (both engines drop feature-less rows —
    see ``_probe_ctes``)."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )


def probe_weights(spark, sf_dir):
    """The full-corpus trained probe, memoized per dataset
    (``_PROBE_MODELS``) — shared by the batch scorer and the
    gate-calibration sweep so both serve the SAME resident model."""

    def train():
        emb = probe_corpus(spark, sf_dir)
        y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
        a, b, n = gram_moment(
            emb.select("embedding", y.alias("_yy")), "embedding", "_yy",
            _DIM,
        )
        return probe_fit_int(a, b, n, iters=PROBE_ITERS)

    return _PROBE_MODELS.get_or_build(dataset_key(None, sf_dir), train)


@register(
    "embedding_probe_train_scores",
    _probe_sql(),
    tags=["similarity", "iterative", "quality"],
)
def embedding_probe_train_scores(spark, sf_dir):
    """Trained linear-probe quality classifier over the embedding
    corpus — the distributed form of the fastText-style filter
    (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    Classification") every LLM data pipeline runs: train a linear
    scorer on labels (here
    one-vs-rest on class 0, AUC ~0.81 on the fixture corpus), score
    the whole corpus, KEEP the top 10% by margin — the percentile
    quality gate, which is how margin scorers are actually deployed
    (a fixed threshold is miscalibrated under class imbalance; a
    percentile cut is budget-stable).

    One data-sized pass for training (the d x d Gram + moment grouped
    aggregation, map-side partials -> 64 rows over the shuffle), T=5
    integer GD iterations driver-side on 32 KB of state, one
    shuffle-free scoring projection (exact int64 zip_with fold), and
    the keep gate as a :func:`distributed_rank` over the exact integer
    margins (never a one-reducer global window).  The oracle replays
    the identical integer recursion as unrolled CTEs — margins are raw
    int64 micros, so no float comparison anywhere.

    At 100 TB: training cost is one scan + a 4 KB-per-partition
    shuffle; scoring is embarrassingly parallel; the fitted weights are
    memoized per sf_dir (``_PROBE_MODELS``) so repeat scoring never
    retrains (cold = train + score, warm = score)."""
    from ffiec_pq_spark.operators.windows import distributed_rank

    # NULL and EMPTY embeddings carry no features: both engines drop
    # them (the oracle's unnest produces no rows for either; the
    # divisor n, the scored row set, and the top-10% cutoff must all
    # agree), so the filter is part of the operator's contract
    # (probe_corpus)
    emb = probe_corpus(spark, sf_dir)
    y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
    scored = probe_margins(
        emb.withColumn("_yy", y), "embedding", "vec_id", "_yy",
        probe_weights(spark, sf_dir),
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("_n"))
    ranked = distributed_rank(
        scored,
        [F.col("margin_micro").desc(), F.col("vec_id").asc()],
        rank_col="rank",
    )
    return ranked.crossJoin(F.broadcast(n_tot)).select(
        "vec_id",
        "y",
        "margin_micro",
        F.col("rank").cast("long").alias("rank"),
        (
            F.col("rank")
            <= F.greatest(F.col("_n") / F.lit(10), F.lit(1)).cast("long")
        ).alias("kept"),
    )


@register(
    "embedding_probe_heldout_eval",
    _probe_heldout_sql(),
    tags=["similarity", "iterative", "quality", "eval"],
)
def embedding_probe_heldout_eval(spark, sf_dir):
    """No-leakage probe evaluation: train the linear probe on the 80%
    hash slice (vec_id % 5 <> 0), score BOTH splits, gate each split at
    its own top-10% margin percentile, and report the (split, y, kept)
    contingency — the heldout precision-vs-base-rate check every
    deployed quality filter needs before its gate is trusted (the
    train rows only show overfit; the heldout rows are the deploy
    estimate).  Pairs with ``docs_leakage_safe_split``: there the split
    is made safe, here the metric is computed without leakage.

    Same plan family as ``embedding_probe_train_scores`` (one Gram
    aggregation over the train slice, driver GD on integer state,
    exact int64 margins, per-split :func:`distributed_rank` gates) —
    the output is the 8-row contingency, all exact integers.  The
    train-slice model is memoized independently of the full-corpus
    model (a DIFFERENT training set must never share weights)."""
    from ffiec_pq_spark.operators.windows import distributed_rank

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
    is_train = F.col("vec_id") % 5 != 0

    def train():
        a, b, n = gram_moment(
            emb.filter(is_train).select("embedding", y.alias("_yy")),
            "embedding", "_yy", _DIM,
        )
        return probe_fit_int(a, b, n, iters=PROBE_ITERS)

    w = _PROBE_MODELS.get_or_build(
        dataset_key(None, sf_dir) + ("train80",), train
    )
    scored = probe_margins(
        emb.withColumn("_yy", y), "embedding", "vec_id", "_yy", w
    ).withColumn(
        "split",
        F.when(F.col("vec_id") % 5 != 0, F.lit("train")).otherwise(
            F.lit("heldout")
        ),
    )
    n_split = scored.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_split")
    )
    ranked = distributed_rank(
        scored,
        [F.col("margin_micro").desc(), F.col("vec_id").asc()],
        part_cols=("split",),
        rank_col="rank",
    )
    return (
        ranked.join(F.broadcast(n_split), "split")
        .select(
            "split",
            "y",
            (
                F.col("rank")
                <= F.greatest(
                    F.col("n_split") / F.lit(10), F.lit(1)
                ).cast("long")
            ).alias("kept"),
        )
        .groupBy("split", "y", "kept")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# doc_kneser_ney_bigram

# Absolute discount: 3/4 is exact in binary, so (n2 - 0.75) is one
# correctly-rounded op on both engines.
_KN_D = 0.75

_KN_SQL = r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2),
    c1 AS (
      SELECT w1, CAST(sum(n2) AS BIGINT) AS n1, count(*) AS nfw
      FROM c2 GROUP BY 1
    ),
    bw AS (SELECT w2, count(*) AS nbw FROM c2 GROUP BY 1),
    na AS (SELECT count(*) AS nall FROM c2)
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(
             ((n2 - 0.75) / n1)
             + (((0.75 * nfw) / n1) * (CAST(nbw AS DOUBLE) / nall))
           )), 6) AS avg_kn_logprob
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN bw USING (w2)
    CROSS JOIN na
    GROUP BY doc_id
    """


@register("doc_kneser_ney_bigram", _KN_SQL, tags=["lm", "quality", "text"])
def doc_kneser_ney_bigram(spark, sf_dir):
    """Per-document mean log-probability under an interpolated
    KNESER-NEY bigram model (Kneser & Ney 1995; the interpolated form
    of Chen & Goodman 1999) estimated from the corpus itself —
    the strongest classical n-gram smoothing (continuation counts
    instead of raw unigram backoff), the scoring KenLM-style
    perplexity filters (CCNet and descendants) are built on:

        P(w2|w1) = (c(w1 w2) − D)/c(w1 ·)
                   + (D·N1+(w1 ·)/c(w1 ·)) · N1+(· w2)/N1+(· ·)

    with D = 0.75; every count is an exact integer (c2 >= 1 keeps the
    discounted numerator positive without a max()).

    Plan (the ``doc_bigram_logprob`` family): bigrams built array-side
    (zip_with over two slices — no posexplode self-join); ONE grouped
    aggregate on the bigram-type table yields BOTH c(w1 ·) and the
    forward continuation count N1+(w1 ·); the backward continuation
    count is a second keyed agg; the type total is a broadcast scalar.
    Probabilities attach back to the bigram stream by keyed joins, and
    only the per-doc mean is rounded (identical expression tree on
    both engines before the single ln).

    Duplicate collapse: estimation runs on DISTINCT content, each
    representative weighted by its copy count g — weighted instance
    counts equal the naive corpus counts EXACTLY, and the continuation
    counts (distinct-type counts) are duplication-INVARIANT, so the
    oracle's naive full-corpus replay proves the collapse; a d-way
    duplicated corpus costs ~1x the distinct corpus instead of d x."""
    from ffiec_pq_spark.operators.dedup import _content_groups

    docs = load_table(spark, sf_dir, "documents")
    groups = _content_groups(docs).persist()
    rep_docs = docs.join(
        groups.filter(F.col("id") == F.col("rep")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    g_of = groups.filter(F.col("id") == F.col("rep")).select(
        F.col("id").alias("doc_id"), "g"
    )
    bg = rep_docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_t")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(_t, 1, size(_t) - 1),"
                "         slice(_t, 2, size(_t) - 1),"
                "         (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("_bg"),
    ).select("doc_id", "_bg.w1", "_bg.w2").join(g_of, "doc_id")
    # weighted type counts == naive corpus counts; the c2 table feeds
    # three consumers (c1+nfw, nbw, nall) -> persist the 1-pass result
    c2 = bg.groupBy("w1", "w2").agg(F.sum("g").alias("n2")).persist()
    c1 = c2.groupBy("w1").agg(
        F.sum("n2").cast("long").alias("n1"),
        F.count(F.lit(1)).alias("nfw"),
    )
    bw = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("nbw"))
    na = c2.agg(F.count(F.lit(1)).alias("nall"))
    p_kn = (
        (F.col("n2") - F.lit(_KN_D)) / F.col("n1")
        + (F.lit(_KN_D) * F.col("nfw") / F.col("n1"))
        * (F.col("nbw").cast("double") / F.col("nall"))
    )
    rep_scores = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(na))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(p_kn)), 6).alias("avg_kn_logprob"),
        )
    )
    # expand rep scores to every copy
    return (
        groups.select("id", "rep")
        .join(rep_scores.withColumnRenamed("doc_id", "rep"), "rep")
        .select(F.col("id").alias("doc_id"), "n_bigrams", "avg_kn_logprob")
    )


# --------------------------------------------------------------------------
# stream_bm25_index_fold


@register(
    "stream_bm25_index_fold",
    _BM25_TOPK_SQL,  # the batch query's oracle, verbatim
    tags=["streaming", "retrieval", "text"],
)
def stream_bm25_index_fold(spark, sf_dir, chunk_order=None):
    """STREAMING BM25 index maintenance: corpus documents arrive as
    micro-batches and each ``foreachBatch`` fold keeps the retrieval
    index fresh — postings and per-doc lengths APPEND (a document is
    wholly contained in its batch, so its tf/dl rows are final on
    arrival; at 100 TB this is an INSERT into a term-partitioned
    table, no rewrite), while document frequencies and the
    (n_docs, Σdl) scalar MERGE by key (the ``stream_incremental_agg``
    pattern, versioned-parquet state standing in for MERGE INTO).
    Per-trigger work is proportional to the BATCH, never the
    accumulated corpus.

    The serve step scores the eval-slice queries against the RESIDENT
    index via the same :func:`~ffiec_pq_spark.queries.round12.
    _bm25_rank_postings` plan as the batch query, and the drained
    result certifies against the IDENTICAL oracle as ``docs_bm25_topk``
    — maintaining the index incrementally must not change a single
    score.  The fold is key-commutative (appends + keyed sums), so
    certification holds under ANY arrival order, unlike the
    order-pinned SCD2 fold.

    The maintained index is RESIDENT per (session, dataset)
    (``_BM25_STREAM_STATE``, the ``_INC_STATE`` convention): a repeat
    call pays only the serve — the per-query cost of a deployment
    whose ingest stream runs continuously — while the cold column
    keeps the full fold replay visible.  An explicit ``chunk_order``
    (the order-invariance test) always folds fresh."""
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    out_schema = (
        "q_id long, rank long, doc_id long, score_micro long"
    )
    key = dataset_key(spark, sf_dir)
    st = _BM25_STREAM_STATE.get(key) if chunk_order is None else None
    if st is None:
        if corpus.isEmpty():
            return spark.createDataFrame([], out_schema)
        st = _bm25_stream_build(spark, corpus, chunk_order)
        if chunk_order is None:
            _BM25_STREAM_STATE[key] = st
    return _bm25_serve(spark, d, st, ephemeral=chunk_order is not None)


# Resident maintained-index state per dataset_key(spark, sf_dir): in a
# deployment these ARE the stored index tables the ingest stream
# maintains; rebuilding them per call would bill every query for the
# full ingest replay the fold exists to avoid.  Dropping an entry
# removes its backing directory too.
_BM25_STREAM_STATE = Memo("bm25_stream_state")


def _bm25_serve(spark, d, st, ephemeral=False, tomb=None):
    """Score the eval-slice queries against a maintained index state
    (shared by the insert fold's memoized/ephemeral paths and the
    delete fold, which passes its ``tomb`` ids to anti-join the
    postings)."""
    import shutil

    from ffiec_pq_spark.queries.round12 import _bm25_rank_postings

    try:
        # explicit projections: the insert fold's per-epoch state dirs
        # surface a partition-discovery ``epoch`` column the scorer
        # must never see (the round-14 serve's convention)
        tf = read_state(spark, st["tf"]).select("doc_id", "term", "tf")
        if tomb is not None:
            tf = tf.join(F.broadcast(tomb), "doc_id", "left_anti")
        dl = read_state(spark, st["dl"]).select("doc_id", "dl")
        df_t = read_state(spark, st["df"])
        stats = read_state(spark, st["meta"]).select(
            F.col("n_docs"),
            (
                F.col("sum_dl").cast("double")
                / F.nullif(F.col("n_docs"), F.lit(0))
            ).alias("avdl"),
        )
        queries_df = d.filter(F.col("doc_id") % 10 == 0)
        served = _bm25_rank_postings(tf, dl, df_t, stats, queries_df)
        return served.localCheckpoint(eager=True)
    finally:
        if ephemeral:
            shutil.rmtree(st["workdir"], ignore_errors=True)


def _bm25_insert_fold(spark, state, workdir, tf_dir, dl_dir):
    """The insert fold as a module-level factory so tests can drive
    it directly (epoch replay / crash-window tests): postings and
    lengths APPEND, df and the (n_docs, Σdl) scalar MERGE by key into
    versioned state via :func:`emit_versioned` (which also retires
    superseded versions — the state dir count stays constant-bounded
    at any trigger count)."""
    from ffiec_pq_spark.operators.text import tokens
    from ffiec_pq_spark.streaming.state import emit_versioned

    def fold(batch_df, epoch_id):
        # foreachBatch is at-least-once: a replayed epoch must not
        # double-APPEND postings (the non-idempotent half of the
        # fold); the merged halves would double-count too.  The
        # guard records the epoch only AFTER the epoch's writes
        # complete — recording it first would turn a redelivery
        # after a mid-fold failure into a silent wholesale skip
        # (at-most-once), dropping that batch's updates
        if epoch_id <= state["epoch"]:
            return
        # tf is written per-epoch (epoch=N subdir, OVERWRITE) from the
        # UNCACHED plan and read back for the derivations — three wins
        # over the former persist()+append (round-16 fold profile):
        # (1) the cached plan froze the pre-AQE 32-partition layout, so
        # every epoch appended 32 near-empty files and every
        # derivation ran a 32-task map side; the uncached write is
        # AQE-sized (guide §6); (2) per-epoch OVERWRITE makes the
        # data-sized write idempotent under at-least-once redelivery
        # (the round-14 dual-arm fold's contract — strictly stronger
        # than append); (3) the read-back replaces the cache with the
        # state file the fold was writing anyway.
        tf_path = os.path.join(tf_dir, f"epoch={epoch_id}")
        (
            batch_df.select(
                "doc_id", F.explode(tokens("text")).alias("term")
            )
            .filter(F.col("term") != "")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .write.mode("overwrite")
            .parquet(tf_path)
        )
        tf_b = spark.read.parquet(tf_path)
        dl_b = tf_b.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        dl_b.write.mode("overwrite").parquet(
            os.path.join(dl_dir, f"epoch={epoch_id}")
        )
        df_b = tf_b.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        meta_b = batch_df.join(dl_b, "doc_id", "left").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0))
            .cast("long")
            .alias("sum_dl"),
        )
        if state["df"] is not None:
            df_b = (
                read_state(spark, state["df"])
                .unionByName(df_b)
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
            )
            prev_meta = read_state(spark, state["meta"])
            meta_b = (
                prev_meta.unionByName(meta_b)
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("sum_dl").cast("long").alias("sum_dl"),
                )
            )
        emit_versioned(state, workdir, {"df": df_b, "meta": meta_b})
        state["epoch"] = epoch_id

    return fold


def _bm25_stream_build(spark, corpus, chunk_order=None, n_chunks=4):
    """Run the ingest stream to completion and return the maintained
    index state paths ``{workdir, tf, dl, df, meta}`` (workdir kept —
    the caller owns cleanup via the memo's drop or, for
    ephemeral runs, the serve's finally).  ``n_chunks`` parameterizes
    the trigger count (the bounded-state test drives ~20)."""
    import shutil
    import tempfile

    workdir = tempfile.mkdtemp(prefix="stream_bm25_")
    try:
        src = os.path.join(workdir, "src")
        os.makedirs(src)
        t0 = 1_700_000_000
        staged = os.path.join(workdir, "staged")
        (
            corpus.withColumn(
                "_chunk", F.pmod(F.col("doc_id"), F.lit(n_chunks)).cast("int")
            )
            .repartition(n_chunks, "_chunk")
            .write.partitionBy("_chunk")
            .mode("overwrite")
            .parquet(staged)
        )
        # arrival order is a free parameter BECAUSE the fold is
        # key-commutative (appends + keyed sums); the order-invariance
        # test drains a permuted order and asserts the identical serve
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

        tf_dir = os.path.join(workdir, "tf")
        dl_dir = os.path.join(workdir, "dl")
        state = {"df": None, "meta": None, "version": 0, "epoch": -1}
        fold = _bm25_insert_fold(spark, state, workdir, tf_dir, dl_dir)

        q = (
            spark.readStream.format("parquet")
            .schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
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
            "df": state["df"],
            "meta": state["meta"],
        }
    except BaseException:
        shutil.rmtree(workdir, ignore_errors=True)
        raise


# --------------------------------------------------------------------------
# dedup_clusters_retract — right-to-be-forgotten retraction from the
# duplicate-cluster state.

_RETRACT_MOD = 13
_RETRACT_SLOT = 5


def _retract_oracle() -> str:
    """Naive replay: full-corpus reach AND corpus-minus-retracted reach
    (each chain scoped inside its own CTE so names don't collide),
    emitting the surviving-member clusters of every old cluster that
    contained a retracted doc."""
    from ffiec_pq_spark.queries.dedup import _reach_ctes

    surv = (
        f"(SELECT * FROM documents "
        f"WHERE NOT (doc_id % {_RETRACT_MOD} = {_RETRACT_SLOT}))"
    )
    return f"""
    WITH full_reach AS (
      WITH {_reach_ctes()}
      SELECT id, cluster FROM reach
    ),
    surv_reach AS (
      WITH {_reach_ctes(surv)}
      SELECT id, cluster FROM reach
    ),
    touched AS (
      SELECT DISTINCT cluster FROM full_reach
      WHERE id % {_RETRACT_MOD} = {_RETRACT_SLOT}
    ),
    touched_ids AS (
      SELECT id FROM full_reach
      WHERE cluster IN (SELECT cluster FROM touched)
    )
    SELECT s.cluster AS cluster_rep,
           count(*) AS n_members,
           array_to_string(list_sort(list(s.id)), ',') AS member_ids
    FROM surv_reach s JOIN touched_ids USING (id)
    GROUP BY s.cluster
    """


@register(
    "dedup_clusters_retract",
    _retract_oracle(),
    tags=["dedup", "graph", "incremental", "privacy"],
)
def dedup_clusters_retract(spark, sf_dir):
    """RETRACTION from the duplicate-cluster state — the
    right-to-be-forgotten / bad-batch rollback twin of
    ``dedup_clusters_incremental``: when documents are DELETED from the
    corpus, correct the cluster labelling without re-running
    connected components over everything.

    Removal can SPLIT a cluster (deleting a bridge doc disconnects its
    neighbors), so unlike insertion there is no quotient shortcut —
    but the damage is provably LOCAL: every near-dup pair lies within
    one old cluster, so removing docs changes nothing outside the
    clusters they belonged to.  The plan therefore (1) reads the
    RESIDENT full-corpus labelling (``component_labels`` — the shared
    memo, no rebuild), (2) semi-joins it against the retracted ids to
    find the touched clusters (a broadcast of cluster ids), (3) re-runs
    the rep-level pair + components pipeline on the touched clusters'
    SURVIVING members only — a subgraph the size of the touched
    clusters, not the corpus — and emits their corrected cluster rows
    (the delta a deployment upserts; clusters the oracle proves exact,
    including splits).

    At 100 TB: a deletion batch touches O(|batch|) clusters; the
    recompute is bounded by those clusters' member count, and the
    untouched labelling (the overwhelming majority) is never read
    beyond the label join.  The oracle replays BOTH naive labellings
    (full and surviving corpus) and takes the surviving members of
    touched clusters — splits and disappearing clusters must
    reproduce exactly."""
    from ffiec_pq_spark.operators.dedup import (
        dedup_cluster_summary,
        dup_components_collapsed,
    )
    from ffiec_pq_spark.queries.dedup import (
        _K,
        _N_BANDS,
        _N_PERM,
        _THRESHOLD,
        component_labels,
    )

    docs = load_table(spark, sf_dir, "documents")
    labels = component_labels(spark, sf_dir)
    retr_ids = docs.filter(
        F.col("doc_id") % _RETRACT_MOD == _RETRACT_SLOT
    ).select(F.col("doc_id").alias("id"))
    touched = (
        labels.join(retr_ids, "id", "left_semi").select("cluster").distinct()
    )
    touched_ids = labels.join(F.broadcast(touched), "cluster").select("id")
    surv_ids = touched_ids.join(retr_ids, "id", "left_anti")
    sub_docs = docs.join(
        surv_ids.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )
    comp_new = dup_components_collapsed(
        sub_docs, k=_K, n_perm=_N_PERM, n_bands=_N_BANDS,
        threshold=_THRESHOLD,
    )
    out = dedup_cluster_summary(comp_new)
    return out.select(
        "cluster_rep",
        "n_members",
        F.array_join(F.col("member_ids").cast("array<string>"), ",").alias(
            "member_ids"
        ),
    )


# --------------------------------------------------------------------------
# stream_bm25_delete_fold — deletion maintenance for the retrieval index.

_BM25_DEL_MOD = 7
_BM25_DEL_SLOT = 3


def _bm25_delete_oracle() -> str:
    from ffiec_pq_spark.queries.round12 import _bm25_topk_sql

    return _bm25_topk_sql(
        f"WHERE doc_id % 10 <> 0 "
        f"AND NOT (doc_id % {_BM25_DEL_MOD} = {_BM25_DEL_SLOT})"
    )


@register(
    "stream_bm25_delete_fold",
    _bm25_delete_oracle(),
    tags=["streaming", "retrieval", "text", "privacy"],
)
def stream_bm25_delete_fold(spark, sf_dir):
    """DELETION maintenance for the BM25 index — the retraction twin of
    ``stream_bm25_index_fold`` (and the lexical counterpart of the ANN
    tombstone family): erasure requests arrive as micro-batches of doc
    ids and each ``foreachBatch`` fold keeps the index EXACT without
    reindexing.  Unlike ANN deletes (geometry unchanged, tombstones
    suffice), BM25 scores depend on corpus statistics — so tombstoning
    alone serves STALE scores.  The fold corrects them exactly:

    - postings/lengths stay immutable; deleted ids append to a
      tombstone list (served via one broadcast anti-join, the
      ``ann_ivf_topk_deletes`` pattern);
    - document frequencies DECREMENT by the deleted docs' term
      presence (one keyed lookup of the batch's postings — at 100 TB a
      point lookup on the doc_id-partitioned postings table — then a
      keyed merge; terms reaching df=0 drop out);
    - the (n_docs, Σdl) scalar decrements from the length state.

    Per-trigger work tracks the BATCH (its postings lookup + k-row
    merges), never the corpus.  The drained serve goes through the
    same :func:`~ffiec_pq_spark.queries.round12._bm25_rank_postings`
    plan and certifies against the batch oracle over the SURVIVING
    corpus — deletion maintenance must reproduce full reindexing
    bit-for-bit, idf shifts included.

    Deletion-corrected state is RESIDENT per (session, dataset)
    (``_BM25_DEL_STATE``): a repeat call pays only the tombstone-aware
    serve, the cold column keeps build + erasure replay visible."""
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    out_schema = "q_id long, rank long, doc_id long, score_micro long"
    key = dataset_key(spark, sf_dir)
    st = _BM25_DEL_STATE.get(key)
    if st is None:
        if corpus.isEmpty():
            return spark.createDataFrame([], out_schema)
        st = _bm25_delete_build(spark, corpus)
        _BM25_DEL_STATE[key] = st
    tomb = read_state(spark, st["tomb"]).select("doc_id")
    return _bm25_serve(spark, d, st, tomb=tomb)


_BM25_DEL_STATE = Memo("bm25_delete_state")


def _bm25_delete_fold(spark, state, workdir, tf, dl):
    """The decrement fold as a module-level factory (testable for
    epoch replay / crash-window behavior): df decrements by the
    deleted docs' term presence, the (n_docs, Σdl) scalar decrements
    from the length state, tombstones append — all through versioned
    state with retirement (:func:`emit_versioned`)."""
    from ffiec_pq_spark.streaming.state import emit_versioned

    def fold(batch_df, epoch_id):
        # at-least-once replay guard: a re-delivered epoch would
        # DOUBLE-DECREMENT df and the corpus scalars; recorded
        # AFTER the writes so a redelivery following a mid-fold
        # failure re-runs instead of silently skipping
        if epoch_id <= state["epoch"]:
            return
        batch_ids = batch_df.select("doc_id")
        # the batch's postings: keyed lookup, fan-out = |batch| docs
        del_tf = tf.join(F.broadcast(batch_ids), "doc_id", "left_semi")
        df_dec = del_tf.groupBy("term").agg(
            F.count(F.lit(1)).alias("dec")
        )
        df_prev = read_state(spark, state["df"])
        df_new = (
            df_prev.join(df_dec, "term", "left")
            .select(
                "term",
                (
                    F.col("df") - F.coalesce(F.col("dec"), F.lit(0))
                ).alias("df"),
            )
            .filter(F.col("df") > 0)
        )
        dec_meta = batch_ids.join(dl, "doc_id", "left").agg(
            F.count(F.lit(1)).cast("long").alias("n_del"),
            F.coalesce(F.sum("dl"), F.lit(0))
            .cast("long")
            .alias("dl_del"),
        )
        meta_prev = read_state(spark, state["meta"])
        meta_new = meta_prev.crossJoin(F.broadcast(dec_meta)).select(
            (F.col("n_docs") - F.col("n_del")).alias("n_docs"),
            (F.col("sum_dl") - F.col("dl_del")).alias("sum_dl"),
        )
        tomb_new = (
            read_state(spark, state["tomb"]).unionByName(batch_ids)
        )
        emit_versioned(
            state, workdir,
            {"df": df_new, "meta": meta_new, "tomb": tomb_new},
        )
        state["epoch"] = epoch_id

    return fold


def _bm25_delete_build(spark, corpus, n_chunks=3):
    """Build the index, stream the erasure log through the decrement
    fold, and return the corrected state paths (workdir kept; cleanup
    via ``_BM25_DEL_STATE.clear()``).  ``n_chunks`` parameterizes
    the erasure-log trigger count (the bounded-state test drives
    ~20)."""
    import shutil
    import tempfile

    from ffiec_pq_spark.operators.text import tokens
    from ffiec_pq_spark.streaming.state import emit_versioned

    workdir = tempfile.mkdtemp(prefix="stream_bm25_del_")
    try:
        # one-time index build (in a deployment: the stored index the
        # erasure stream maintains)
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

        # stage the erasure log: ids arriving in mtime-ordered chunks
        deleted = corpus.filter(
            F.col("doc_id") % _BM25_DEL_MOD == _BM25_DEL_SLOT
        ).select("doc_id")
        staged = os.path.join(workdir, "staged")
        (
            deleted.withColumn(
                "_chunk", F.pmod(F.col("doc_id"), F.lit(n_chunks)).cast("int")
            )
            .repartition(n_chunks, "_chunk")
            .write.partitionBy("_chunk")
            .mode("overwrite")
            .parquet(staged)
        )
        src = os.path.join(workdir, "src")
        os.makedirs(src)
        t0 = 1_700_000_000
        for i in range(n_chunks):
            chunk_dir = os.path.join(staged, f"_chunk={i}")
            if not os.path.isdir(chunk_dir):
                continue
            part = next(
                f for f in os.listdir(chunk_dir) if f.endswith(".parquet")
            )
            dst = os.path.join(src, f"{i:04d}.parquet")
            os.rename(os.path.join(chunk_dir, part), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))

        fold = _bm25_delete_fold(spark, state, workdir, tf, dl)

        q = (
            spark.readStream.format("parquet")
            .schema(deleted.schema)
            .option("maxFilesPerTrigger", 1)
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
            "df": state["df"],
            "meta": state["meta"],
            "tomb": state["tomb"],
        }
    except BaseException:
        shutil.rmtree(workdir, ignore_errors=True)
        raise


# --------------------------------------------------------------------------
# embedding_probe_unlearn — exact machine unlearning for the probe.

_UNLEARN_MOD = 9
_UNLEARN_SLOT = 4
_UNLEARN_PRED = (
    f"NOT (vec_id % {_UNLEARN_MOD} = {_UNLEARN_SLOT})"
)


def _probe_unlearn_sql(iters: int = PROBE_ITERS) -> str:
    """From-scratch training on the SURVIVING vectors only — the
    ground truth exact unlearning must reproduce bit-for-bit."""
    ctes, last = _probe_ctes(iters, train_pred=_UNLEARN_PRED)
    ctes.append(
        f"""scored AS (
      SELECT ex.vec_id, CAST(max(ex.y) AS BIGINT) AS y,
             CAST(sum(ex.xq * w.v) AS BIGINT) AS margin_micro
      FROM ex JOIN {last} w USING (i)
      WHERE NOT (ex.vec_id % {_UNLEARN_MOD} = {_UNLEARN_SLOT})
      GROUP BY ex.vec_id
    )"""
    )
    ctes.append(
        """ranked AS (
      SELECT vec_id, y, margin_micro,
             row_number() OVER (
               ORDER BY margin_micro DESC, vec_id ASC
             ) AS rank
      FROM scored
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT vec_id, y, margin_micro, CAST(rank AS BIGINT) AS rank,
           (rank <= greatest(nn.n // 10, 1)) AS kept
    FROM ranked CROSS JOIN nn
    """
    )


# Full-corpus sufficient statistics (A, B, n) per dataset_key(None,
# sf_dir): the unlearning path subtracts erased vectors' contributions
# from these instead of rescanning the survivors.
_PROBE_STATS = Memo("probe_stats")


@register(
    "embedding_probe_unlearn",
    _probe_unlearn_sql(),
    tags=["similarity", "iterative", "quality", "privacy"],
)
def embedding_probe_unlearn(spark, sf_dir):
    """EXACT machine unlearning for the linear-probe quality filter —
    the model-side half of a right-to-be-forgotten pipeline (the data
    side is ``dedup_clusters_retract`` / the tombstone families): when
    vectors are erased, the trained filter must forget them EXACTLY,
    not approximately.

    Linear models admit exact unlearning through their sufficient
    statistics (the classic result behind certified data deletion for
    linear/ridge regression, cf. Guo et al. 2020, "Certified Data
    Removal"): the Gram matrix and moment vector are SUMS over rows,
    so the erased vectors' contributions subtract out exactly —

        A' = A − Σ_del xq xqᵀ,  B' = B − Σ_del xq·y,  n' = n − |del|

    — and because this engine's GD runs on an INTEGER grid, "exactly"
    is bit-for-bit, not up-to-float-error: the oracle trains FROM
    SCRATCH on the survivors and the hash must match.

    Plan: the resident full-corpus statistics (``_PROBE_STATS``, one
    Gram aggregation, memoized) minus one Gram aggregation over the
    ERASED slice only (cost ∝ |deleted|, never the corpus), GD on the
    corrected 32 KB state driver-side, then the scoring projection and
    top-10% gate over the survivors — the full retrain-on-survivors
    answer at the cost of scanning the deletions."""
    from ffiec_pq_spark.operators.windows import distributed_rank

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
    a, b, n = _PROBE_STATS.get_or_build(
        dataset_key(None, sf_dir),
        lambda: gram_moment(
            emb.select("embedding", y.alias("_yy")), "embedding", "_yy",
            _DIM,
        ),
    )
    deleted = emb.filter(
        F.col("vec_id") % _UNLEARN_MOD == _UNLEARN_SLOT
    )
    a_d, b_d, n_d = gram_moment(
        deleted.select("embedding", y.alias("_yy")), "embedding", "_yy",
        _DIM,
    )
    a_s = [
        [a[i][j] - a_d[i][j] for j in range(_DIM)] for i in range(_DIM)
    ]
    b_s = [b[i] - b_d[i] for i in range(_DIM)]
    w = probe_fit_int(a_s, b_s, n - n_d, iters=PROBE_ITERS)

    survivors = emb.filter(
        F.col("vec_id") % _UNLEARN_MOD != _UNLEARN_SLOT
    )
    scored = probe_margins(
        survivors.withColumn("_yy", y), "embedding", "vec_id", "_yy", w
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("_n"))
    ranked = distributed_rank(
        scored,
        [F.col("margin_micro").desc(), F.col("vec_id").asc()],
        rank_col="rank",
    )
    return ranked.crossJoin(F.broadcast(n_tot)).select(
        "vec_id",
        "y",
        "margin_micro",
        F.col("rank").cast("long").alias("rank"),
        (
            F.col("rank")
            <= F.greatest(F.col("_n") / F.lit(10), F.lit(1)).cast("long")
        ).alias("kept"),
    )


# --------------------------------------------------------------------------
# stream_probe_stats_fold — incremental training: the sufficient
# statistics fold from arriving micro-batches.


@register(
    "stream_probe_stats_fold",
    _probe_sql(),  # the batch training oracle, verbatim
    tags=["streaming", "similarity", "iterative", "quality"],
)
def stream_probe_stats_fold(spark, sf_dir):
    """INCREMENTAL training for the linear-probe quality filter:
    labelled vectors arrive as micro-batches and each ``foreachBatch``
    fold MERGES their Gram/moment contributions into the resident
    sufficient-statistics relation — one keyed add of 64 rows per
    trigger (the batch's own statistics cost one aggregation over the
    BATCH, never the accumulated corpus).  Completes the trainer
    lifecycle: batch train, no-leakage heldout eval, exact unlearning
    (keyed subtract), and now streaming accumulation (keyed add) —
    all four arms share the same integer statistics, so all four are
    bit-for-bit consistent with each other by construction.

    The serve step refits on the accumulated statistics (driver GD on
    32 KB of integer state) and scores every arrived vector through
    the usual margin fold + top-10% gate.  Because integer sums are
    commutative and associative, the drained statistics equal the
    full-corpus aggregation EXACTLY under any batching — certified
    against the IDENTICAL oracle as ``embedding_probe_train_scores``
    (batch training from scratch).

    Resident per (session, dataset) (``_PROBE_STREAM_STATE``): cold =
    ingest replay + refit + score, warm = refit + score against the
    resident statistics."""
    import shutil
    import tempfile

    from ffiec_pq_spark.operators.linear_probe import (
        gram_moment_df,
        probe_fit_int,
        stats_rows_to_abn,
    )
    from ffiec_pq_spark.operators.windows import distributed_rank
    from ffiec_pq_spark.session import ensure_session_confs
    from ffiec_pq_spark.streaming.state import emit_versioned

    ensure_session_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    out_schema = (
        "vec_id long, y long, margin_micro long, rank long, kept boolean"
    )
    key = dataset_key(spark, sf_dir)
    st = _PROBE_STREAM_STATE.get(key)
    if st is None:
        if emb.isEmpty():
            return spark.createDataFrame([], out_schema)
        y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
        workdir = tempfile.mkdtemp(prefix="stream_probe_")
        try:
            n_chunks = 4
            staged = os.path.join(workdir, "staged")
            (
                emb.withColumn(
                    "_chunk",
                    F.pmod(F.col("vec_id"), F.lit(n_chunks)).cast("int"),
                )
                .repartition(n_chunks, "_chunk")
                .write.partitionBy("_chunk")
                .mode("overwrite")
                .parquet(staged)
            )
            src = os.path.join(workdir, "src")
            os.makedirs(src)
            t0 = 1_700_000_000
            for i in range(n_chunks):
                chunk_dir = os.path.join(staged, f"_chunk={i}")
                if not os.path.isdir(chunk_dir):
                    continue
                part = next(
                    f
                    for f in os.listdir(chunk_dir)
                    if f.endswith(".parquet")
                )
                dst = os.path.join(src, f"{i:04d}.parquet")
                os.rename(os.path.join(chunk_dir, part), dst)
                os.utime(dst, (t0 + i * 10, t0 + i * 10))

            state = {"stats": None, "version": 0, "epoch": -1}
            sum_cols = [f"a{j}" for j in range(_DIM)] + ["b", "n"]

            def fold(batch_df, epoch_id):
                # at-least-once replay guard: a re-delivered epoch
                # would double-count its batch's statistics; recorded
                # AFTER the write so a redelivery following a
                # mid-fold failure re-runs instead of skipping
                if epoch_id <= state["epoch"]:
                    return
                yb = (
                    F.coalesce(F.col("label"), F.lit(0)) == 0
                ).cast("long")
                stats_b = gram_moment_df(
                    batch_df.withColumn("_yy", yb), "embedding", "_yy",
                    _DIM,
                )
                if state["stats"] is not None:
                    stats_b = (
                        read_state(spark, state["stats"])
                        .unionByName(stats_b)
                        .groupBy("i")
                        .agg(
                            *[
                                F.sum(c).cast("long").alias(c)
                                for c in sum_cols
                            ]
                        )
                    )
                emit_versioned(state, workdir, {"stats": stats_b})
                state["epoch"] = epoch_id

            q = (
                spark.readStream.format("parquet")
                .schema(emb.schema)
                .option("maxFilesPerTrigger", 1)
                .load(src)
                .writeStream.foreachBatch(fold)
                .option(
                    "checkpointLocation", os.path.join(workdir, "ckpt")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            st = {"workdir": workdir, "stats": state["stats"]}
            _PROBE_STREAM_STATE[key] = st
        except BaseException:
            shutil.rmtree(workdir, ignore_errors=True)
            raise

    a, b, n = stats_rows_to_abn(
        read_state(spark, st["stats"]).collect(), _DIM
    )
    w = probe_fit_int(a, b, n, iters=PROBE_ITERS)
    y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
    scored = probe_margins(
        emb.withColumn("_yy", y), "embedding", "vec_id", "_yy", w
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("_n"))
    ranked = distributed_rank(
        scored,
        [F.col("margin_micro").desc(), F.col("vec_id").asc()],
        rank_col="rank",
    )
    return ranked.crossJoin(F.broadcast(n_tot)).select(
        "vec_id",
        "y",
        "margin_micro",
        F.col("rank").cast("long").alias("rank"),
        (
            F.col("rank")
            <= F.greatest(F.col("_n") / F.lit(10), F.lit(1)).cast("long")
        ).alias("kept"),
    )


_PROBE_STREAM_STATE = Memo("probe_stream_state")
