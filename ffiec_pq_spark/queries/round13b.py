"""Round-13 LM-layer family: the bigram Kneser-Ney model becomes a
MAINTAINED asset with the same lifecycle contract as the BM25 index and
the linear probe — Moore-Lewis cross-entropy-difference selection (the
canonical LM-based domain-data selection, Moore & Lewis 2010), streaming
incremental count maintenance (per-trigger work ∝ batch), and EXACT
unlearning by count subtraction (the retrain-from-scratch oracle must
hash-match bit-for-bit, the ``embedding_probe_unlearn`` contract).

The reference (iangow/ffiec.pq) has no LM surface; this extends the
mandated training-data-pipeline layer.  All probabilities are built as
IDENTICAL expression trees on both engines (the ``doc_kneser_ney_bigram``
precedent, round12b.py:357), with integer counts the only state."""

from __future__ import annotations

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.streaming.state import (
    drain,
    fold_workdir,
    keyed_add,
    new_state,
    read_state,
    serve_fold,
    stage_chunks,
    versioned_fold,
)
from ffiec_pq_spark.resident import Memo
from ffiec_pq_spark.session import dataset_key, load_table

_D = 0.75  # exact in binary: (n2 - 0.75) is one correctly-rounded op

# --------------------------------------------------------------------------
# shared bigram machinery (naive, no duplicate collapse: the collapse is
# proved by doc_kneser_ney_bigram; the maintained/unlearned state here is
# the NAIVE count table so insert/delete folds are pure keyed integer
# merges)

_BG_ZIP = (
    "zip_with(slice(_t, 1, size(_t) - 1),"
    "         slice(_t, 2, size(_t) - 1),"
    "         (a, b) -> struct(a AS w1, b AS w2))"
)


def _bigrams(docs):
    """(doc_id, w1, w2) bigram stream, array-side (zip_with over two
    aligned slices — no posexplode self-join)."""
    return (
        docs.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_t")
        )
        .select("doc_id", F.explode(F.expr(_BG_ZIP)).alias("_bg"))
        .select("doc_id", "_bg.w1", "_bg.w2")
    )


def _kn_model_tables(c2):
    """Derive the scoring relations from a bigram count table
    ``(w1, w2, n2)``: per-context totals + forward continuation counts
    (ONE grouped agg), backward continuation counts, and the type
    total (broadcast scalar relation)."""
    c1 = c2.groupBy("w1").agg(
        F.sum("n2").cast("long").alias("n1"),
        F.count(F.lit(1)).alias("nfw"),
    )
    bw = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("nbw"))
    na = c2.agg(F.count(F.lit(1)).alias("nall"))
    return c1, bw, na


def _p_kn():
    """Interpolated-KN probability for an in-model bigram — the
    ``doc_kneser_ney_bigram`` expression tree verbatim."""
    return (F.col("n2") - F.lit(_D)) / F.col("n1") + (
        F.lit(_D) * F.col("nfw") / F.col("n1")
    ) * (F.col("nbw").cast("double") / F.col("nall"))


def _kn_scores(c2, score_bg):
    """Score a bigram stream against a count table: per-doc
    ``(n_bigrams, avg_kn_logprob)``.  Every scored bigram must exist
    in ``c2`` (the stream's documents are part of the estimation
    corpus) — keyed inner joins, one per-row float expression, only
    the per-doc mean rounded (6 dp, the accepted precedent)."""
    c1, bw, na = _kn_model_tables(c2)
    return (
        score_bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(na))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(_p_kn())), 6).alias("avg_kn_logprob"),
        )
    )


# --------------------------------------------------------------------------
# doc_moore_lewis_select — cross-entropy difference selection
# (Moore & Lewis 2010, "Intelligent Selection of Language Model
# Training Data": score every candidate by H_in(d) − H_gen(d), an
# in-domain LM against a general LM, and keep the best slice — the
# method CCNet-style domain filters descend from).

_ML_LANG = "en"  # the in-domain slice: English documents
_ML_KEEP_PCT = 4  # keep the top 1/4 by cross-entropy difference

# Per-bigram probability under a model whose tables may MISS the
# bigram (the in-domain model scores the whole corpus): interpolated
# KN when the pair is in-model; the continuation-weighted backoff when
# only the context is; the bare continuation unigram when only the
# word is; a fixed 1/(2·n_types) floor for out-of-vocabulary words.
# The CASE arms are identical trees on both engines.


def _p_backoff(sfx: str):
    n2, n1, nfw, nbw, nall = (
        F.col(f"n2{sfx}"), F.col(f"n1{sfx}"), F.col(f"nfw{sfx}"),
        F.col(f"nbw{sfx}"), F.col(f"nall{sfx}"),
    )
    full = (n2 - F.lit(_D)) / n1 + (F.lit(_D) * nfw / n1) * (
        nbw.cast("double") / nall
    )
    ctx_only = (F.lit(_D) * nfw / n1) * (nbw.cast("double") / nall)
    cont_only = nbw.cast("double") / nall
    floor = F.lit(1.0) / (F.lit(2) * nall).cast("double")
    return (
        F.when(n2.isNotNull(), full)
        .when(n1.isNotNull() & nbw.isNotNull(), ctx_only)
        .when(nbw.isNotNull(), cont_only)
        .otherwise(floor)
    )


def _p_backoff_sql(sfx: str) -> str:
    return f"""CASE
      WHEN n2{sfx} IS NOT NULL THEN
        ((n2{sfx} - 0.75) / n1{sfx})
        + (((0.75 * nfw{sfx}) / n1{sfx})
           * (CAST(nbw{sfx} AS DOUBLE) / nall{sfx}))
      WHEN n1{sfx} IS NOT NULL AND nbw{sfx} IS NOT NULL THEN
        ((0.75 * nfw{sfx}) / n1{sfx})
        * (CAST(nbw{sfx} AS DOUBLE) / nall{sfx})
      WHEN nbw{sfx} IS NOT NULL THEN
        CAST(nbw{sfx} AS DOUBLE) / nall{sfx}
      ELSE 1.0 / CAST(2 * nall{sfx} AS DOUBLE)
    END"""


_ML_SQL = rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    bgi AS (
      SELECT b.* FROM bg b
      JOIN documents d USING (doc_id) WHERE d.lang = '{_ML_LANG}'
    ),
    c2g AS (SELECT w1, w2, count(*) AS n2g FROM bg GROUP BY 1, 2),
    c1g AS (
      SELECT w1, CAST(sum(n2g) AS BIGINT) AS n1g, count(*) AS nfwg
      FROM c2g GROUP BY 1
    ),
    bwg AS (SELECT w2, count(*) AS nbwg FROM c2g GROUP BY 1),
    nag AS (SELECT count(*) AS nallg FROM c2g),
    c2i AS (SELECT w1, w2, count(*) AS n2i FROM bgi GROUP BY 1, 2),
    c1i AS (
      SELECT w1, CAST(sum(n2i) AS BIGINT) AS n1i, count(*) AS nfwi
      FROM c2i GROUP BY 1
    ),
    bwi AS (SELECT w2, count(*) AS nbwi FROM c2i GROUP BY 1),
    nai AS (SELECT count(*) AS nalli FROM c2i),
    scored AS (
      SELECT bg.doc_id,
             count(*) AS n_bigrams,
             round(avg(ln({_p_backoff_sql('i')})), 6) AS lp_in,
             round(avg(ln({_p_backoff_sql('g')})), 6) AS lp_gen
      FROM bg
      LEFT JOIN c2i USING (w1, w2) LEFT JOIN c1i USING (w1)
      LEFT JOIN bwi USING (w2)
      LEFT JOIN c2g USING (w1, w2) LEFT JOIN c1g USING (w1)
      LEFT JOIN bwg USING (w2)
      CROSS JOIN nai CROSS JOIN nag
      GROUP BY bg.doc_id
    ),
    nt AS (SELECT count(*) AS n_total FROM scored),
    ranked AS (
      SELECT *, row_number() OVER (
               ORDER BY round(lp_in - lp_gen, 6) DESC, doc_id ASC
             ) AS rank
      FROM scored
    )
    SELECT doc_id, n_bigrams, lp_in, lp_gen,
           round(lp_in - lp_gen, 6) AS ml_score,
           CAST(rank AS BIGINT) AS rank,
           (rank <= greatest(n_total // {_ML_KEEP_PCT}, 1)) AS selected
    FROM ranked CROSS JOIN nt
    """


@register(
    "doc_moore_lewis_select",
    _ML_SQL,
    tags=["lm", "quality", "text", "curation"],
)
def doc_moore_lewis_select(spark, sf_dir):
    """Moore-Lewis cross-entropy-difference data selection (Moore &
    Lewis 2010): train an IN-DOMAIN Kneser-Ney bigram model (English
    documents) and a GENERAL model (the full corpus), score every
    document under both, and select the top quarter by
    ``ml_score = lp_in − lp_gen`` — the documents most like the target
    domain relative to the background, the classic recipe for carving
    domain training sets out of a web-scale crawl.

    Out-of-model bigrams back off through a fully-specified CASE
    ladder (interpolated KN → continuation-weighted context backoff →
    bare continuation unigram → a 1/(2·types) OOV floor) built as the
    identical expression tree on both engines.

    Duplicate collapse: BOTH models estimate on DISTINCT content —
    general counts weight by the copy count ``g``, in-domain counts by
    the number of copies whose ``lang`` is in-domain (``g_in``;
    weighted type counts equal the naive slice counts exactly, and
    types whose in-domain weight is zero are dropped so the type/
    continuation counts match the naive in-domain model too).  Reps
    are scored once and expanded to copies (scores depend only on
    text); the oracle's naive full-replay proves the collapse.

    Plan at 100 TB: two keyed count tables over the same bigram-type
    stream (shuffle ∝ distinct bigram types), LEFT keyed joins back to
    the type stream, two broadcast scalar relations, one
    :func:`distributed_rank` over the rounded score (no single-reducer
    window), and a broadcast total for the keep gate."""
    from ffiec_pq_spark.operators.dedup import _content_groups
    from ffiec_pq_spark.operators.windows import distributed_rank

    docs = load_table(spark, sf_dir, "documents")
    groups = _content_groups(docs).persist()
    reps = groups.filter(F.col("id") == F.col("rep"))
    g_in = (
        docs.select(
            F.col("doc_id").alias("id"),
            (F.col("lang") == F.lit(_ML_LANG)).cast("long").alias("_e"),
        )
        .join(groups.select("id", "rep"), "id")
        .groupBy("rep")
        .agg(F.sum("_e").alias("g_in"))
    )
    rep_w = (
        reps.select(F.col("id").alias("doc_id"), "g")
        .join(g_in.withColumnRenamed("rep", "doc_id"), "doc_id")
    )
    rep_docs = docs.join(rep_w.select("doc_id"), "doc_id", "left_semi")
    bg = _bigrams(rep_docs).join(rep_w, "doc_id")
    # general model: weighted counts == naive corpus counts
    c2g = (
        bg.groupBy("w1", "w2")
        .agg(F.sum("g").cast("long").alias("n2g"))
        .persist()
    )
    c1g = c2g.groupBy("w1").agg(
        F.sum("n2g").cast("long").alias("n1g"),
        F.count(F.lit(1)).alias("nfwg"),
    )
    bwg = c2g.groupBy("w2").agg(F.count(F.lit(1)).alias("nbwg"))
    nag = c2g.agg(F.count(F.lit(1)).alias("nallg"))
    # in-domain model: weight = copies with the in-domain lang; types
    # with zero in-domain weight are NOT in-model types
    c2i = (
        bg.groupBy("w1", "w2")
        .agg(F.sum("g_in").cast("long").alias("n2i"))
        .filter(F.col("n2i") > 0)
        .persist()
    )
    c1i = c2i.groupBy("w1").agg(
        F.sum("n2i").cast("long").alias("n1i"),
        F.count(F.lit(1)).alias("nfwi"),
    )
    bwi = c2i.groupBy("w2").agg(F.count(F.lit(1)).alias("nbwi"))
    nai = c2i.agg(F.count(F.lit(1)).alias("nalli"))
    rep_scores = (
        bg.select("doc_id", "w1", "w2")
        .join(c2i, ["w1", "w2"], "left")
        .join(c1i, "w1", "left")
        .join(bwi, "w2", "left")
        .join(c2g, ["w1", "w2"], "left")
        .join(c1g, "w1", "left")
        .join(bwg, "w2", "left")
        .crossJoin(F.broadcast(nai))
        .crossJoin(F.broadcast(nag))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(_p_backoff("i"))), 6).alias("lp_in"),
            F.round(F.avg(F.log(_p_backoff("g"))), 6).alias("lp_gen"),
        )
    )
    # three consumers (count gate, rank's local pass, rank's offset
    # pass) — persist so the six-join scoring subtree runs ONCE (the
    # documented clearCache()-between-pipelines persist convention)
    scored = (
        groups.select("id", "rep")
        .join(rep_scores.withColumnRenamed("doc_id", "rep"), "rep")
        .select(
            F.col("id").alias("doc_id"), "n_bigrams", "lp_in", "lp_gen",
            F.round(F.col("lp_in") - F.col("lp_gen"), 6).alias("ml_score"),
        )
        .persist()
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("n_total"))
    ranked = distributed_rank(
        scored,
        [F.col("ml_score").desc(), F.col("doc_id").asc()],
        rank_col="rank",
    )
    return ranked.crossJoin(F.broadcast(n_tot)).select(
        "doc_id", "n_bigrams", "lp_in", "lp_gen", "ml_score",
        F.col("rank").cast("long").alias("rank"),
        (
            F.col("rank")
            <= F.greatest(
                (F.col("n_total") / F.lit(_ML_KEEP_PCT)).cast("long"),
                F.lit(1),
            )
        ).alias("selected"),
    )


# --------------------------------------------------------------------------
# stream_kn_counts_fold — streaming incremental LM maintenance.

# the batch query's oracle, verbatim: maintaining the counts
# incrementally must not change a single score
from ffiec_pq_spark.queries.round12b import _KN_SQL  # noqa: E402

_KN_STREAM_STATE = Memo("kn_stream_state")


def _kn_insert_fold(spark, state, workdir):
    """Per-trigger fold: the batch's bigram-TYPE counts merge into the
    maintained count table by key (versioned state,
    :func:`~ffiec_pq_spark.streaming.state.versioned_fold`).
    Work per trigger ∝ batch bigrams + the keyed merge of batch types
    into the (vocab²-bounded) type table — never the accumulated
    corpus.  Module-level factory so tests can drive epochs directly
    (replay / crash-window)."""

    def step(batch_df, epoch_id):
        c2_b = (
            _bigrams(batch_df)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("long").alias("n2"))
        )
        return {
            "c2": keyed_add(spark, state["c2"], c2_b, ["w1", "w2"], ["n2"])
        }

    return versioned_fold(state, workdir, step)


def _kn_stream_build(spark, corpus, chunk_order=None, n_chunks=4):
    """Drain the ingest stream and return the maintained state
    ``{workdir, c2}``."""
    with fold_workdir("kn") as workdir:
        src = stage_chunks(
            corpus, F.pmod("doc_id", F.lit(n_chunks)), n_chunks, workdir,
            chunk_order,
        )
        state = new_state("c2")
        fold = _kn_insert_fold(spark, state, workdir)
        drain(spark, src, corpus.schema, fold, workdir)
        return {"workdir": workdir, "c2": state["c2"]}


def _kn_serve(spark, docs, st):
    """Score the corpus against the maintained count table — the
    identical scoring plan as the batch query."""
    served = _kn_scores(read_state(spark, st["c2"]), _bigrams(docs))
    return served.localCheckpoint(eager=True)


@register(
    "stream_kn_counts_fold",
    _KN_SQL,
    tags=["streaming", "lm", "text"],
)
def stream_kn_counts_fold(spark, sf_dir, chunk_order=None):
    """STREAMING Kneser-Ney count maintenance: documents arrive as
    micro-batches and each ``foreachBatch`` fold merges the batch's
    bigram-type counts into the maintained count table (keyed integer
    sums — commutative, so certification holds under ANY arrival
    order; the order-invariance test drains a permuted order).  The
    serve derives the context/continuation tables from the folded
    counts and scores the corpus with the batch query's exact plan —
    the drained result certifies against the IDENTICAL oracle as
    ``doc_kneser_ney_bigram``: maintaining the model incrementally
    must not change a single score.

    The maintained counts are RESIDENT per (session, dataset)
    (``_KN_STREAM_STATE``, the ``_BM25_STREAM_STATE`` convention):
    repeat calls pay only the serve, the cold column keeps the full
    fold replay visible.  An explicit ``chunk_order`` always folds
    fresh.

    At 100 TB: per-trigger work ∝ batch; the count-table merge is the
    MERGE-INTO stand-in (vocab²-bounded; the ``streaming/state.py``
    fold contract)."""
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    docs = load_table(spark, sf_dir, "documents")
    return serve_fold(
        _KN_STREAM_STATE, dataset_key(spark, sf_dir), docs,
        lambda: _kn_stream_build(spark, docs, chunk_order),
        lambda st: _kn_serve(spark, docs, st),
        lambda: spark.createDataFrame(
            [], "doc_id long, n_bigrams long, avg_kn_logprob double"
        ),
        one_off=chunk_order is not None,
    )


# --------------------------------------------------------------------------
# doc_kn_unlearn — exact LM unlearning by count subtraction.

_KN_FORGET_MOD = 9
_KN_FORGET_SLOT = 4

_KN_UNLEARN_SQL = rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
      WHERE NOT (doc_id % {_KN_FORGET_MOD} = {_KN_FORGET_SLOT})
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

# Resident full-corpus bigram counts per dataset_key(None, sf_dir):
# the unlearning path subtracts the erased documents' counts from
# these instead of re-counting the survivors.
_KN_STATS = Memo("kn_stats")


def _kn_full_counts(spark, sf_dir):
    return _KN_STATS.get_or_build(
        dataset_key(None, sf_dir),
        lambda: _bigrams(load_table(spark, sf_dir, "documents"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
        .localCheckpoint(eager=True),
    )


@register(
    "doc_kn_unlearn",
    _KN_UNLEARN_SQL,
    tags=["lm", "text", "privacy"],
)
def doc_kn_unlearn(spark, sf_dir):
    """EXACT machine unlearning for the Kneser-Ney LM — the LM-layer
    member of the right-to-be-forgotten family (data:
    ``dedup_clusters_retract``; lexical index: ``stream_bm25_delete_
    fold``; vector index: ANN tombstones; linear model:
    ``embedding_probe_unlearn``): when documents are erased, the
    corpus LM that scores quality/perplexity filters must forget them
    EXACTLY, not approximately.

    n-gram LMs admit exact unlearning through their sufficient
    statistics — every count is a SUM over documents, so the erased
    documents' bigram counts subtract out exactly:

        c'(w1 w2) = c(w1 w2) − c_del(w1 w2),  types at 0 drop,

    and the context totals, forward/backward continuation counts, and
    the type total all re-derive from the corrected integer table.
    Because the state is pure integers, "exactly" is bit-for-bit: the
    oracle re-estimates FROM SCRATCH on the survivors and the hash
    must match (the ``embedding_probe_unlearn`` contract, cf. Guo et
    al. 2020's sufficient-statistics family).

    Plan: the resident full-corpus count table (``_KN_STATS``, one
    grouped aggregation, memoized) minus one aggregation over the
    ERASED slice only (cost ∝ |deleted|, never the corpus), a keyed
    left-join subtraction on bigram types, then the standard scoring
    plan over the survivors — the full retrain-on-survivors answer at
    the model-update cost of scanning the deletions."""
    docs = load_table(spark, sf_dir, "documents")
    erased = F.col("doc_id") % _KN_FORGET_MOD == _KN_FORGET_SLOT
    c2_full = _kn_full_counts(spark, sf_dir)
    del_counts = (
        _bigrams(docs.filter(erased))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("_d2"))
    )
    c2 = (
        c2_full.join(del_counts, ["w1", "w2"], "left")
        .select(
            "w1", "w2",
            (F.col("n2") - F.coalesce(F.col("_d2"), F.lit(0)))
            .cast("long")
            .alias("n2"),
        )
        .filter(F.col("n2") > 0)
    )
    return _kn_scores(c2, _bigrams(docs.filter(~erased)))
