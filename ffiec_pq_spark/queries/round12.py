"""Round-12 additions.

- ``users_weekly_snapshot_scd2`` — the snapshot-diff SCD2 certified
  against a strict oracle: weekly per-user attribute snapshots derived
  from the event stream, collapsed into validity intervals by the new
  generic :func:`~ffiec_pq_spark.operators.windows.scd2_from_snapshots`
  (the same operator that builds the POR institution history in the
  FFIEC pipeline, where the reference keeps only the latest quarterly
  restatement — R/ffeic_read.R:434-493).
- ``stream_scd2_snapshot_fold`` — STREAMING maintenance of that same
  SCD2 history: weekly snapshots arrive as ordered micro-batches and a
  ``foreachBatch`` fold stitches each batch's intervals onto the open
  tail of the accumulated history (the warehouse MERGE-into-dimension
  pattern), draining to the identical oracle as the batch query.
- ``docs_bm25_topk`` — BM25 lexical retrieval: the eval slice of the
  corpus queries the rest through an inverted-index join, scored with
  the log-free rational idf (the ``corpus_tfidf_top_terms`` precedent)
  and integer-scaled per-term contributions so the cross-engine sum is
  order-independent.
- ``retrieval_mrr_by_source`` — retrieval quality eval over the BM25
  ranking (shared scoring pass): per-source hit@3 and integer-scaled
  reciprocal-rank sums against a deterministic same-source relevance
  label.

Float discipline (see the certified-family conventions): no logs, no
cross-row double sums — every ranking/summed quantity is either pure
per-row rational arithmetic (bit-identical IEEE on both engines) or an
integer after an explicit ``floor(x*1e6 + 0.5)`` scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.streaming.state import (
    drain,
    fold_workdir,
    new_state,
    read_state,
    stage_chunks,
    versioned_fold,
)
from ffiec_pq_spark.resident import Memo, tracked_persist
from ffiec_pq_spark.session import dataset_key, load_table

# --------------------------------------------------------------------------
# users_weekly_snapshot_scd2


_SNAPSHOT_SCD2_SQL = """
    WITH ordered AS (
      SELECT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
             event_type,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('week', CAST(ts AS TIMESTAMP))
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    snap AS (SELECT user_id, week, event_type FROM ordered WHERE rn = 1),
    chg AS (
      SELECT user_id, week, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY week) AS prev
      FROM snap
    ),
    iv AS (
      SELECT user_id, week, event_type FROM chg
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           week AS valid_from,
           lead(week) OVER (PARTITION BY user_id ORDER BY week) AS valid_to,
           CAST(CASE WHEN lead(week) OVER (
                  PARTITION BY user_id ORDER BY week) IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM iv
    """


def _weekly_snapshots(spark, sf_dir):
    """(user_id, week, event_type): each user's LAST event type per ISO
    week — the sparse periodic-snapshot relation both SCD2 variants
    consume.  One grouped ``max(struct(ts, event_id, event_type))``
    (associative, tie-broken by the unique event_id) — never a per-user
    window over raw events."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    return (
        ev.groupBy("user_id", week.alias("week"))
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("s"))
        .select("user_id", "week", F.col("s.event_type").alias("event_type"))
    )


@register(
    "users_weekly_snapshot_scd2",
    _SNAPSHOT_SCD2_SQL,
    tags=["relational", "temporal"],
)
def users_weekly_snapshot_scd2(spark, sf_dir):
    """SCD type-2 history from PERIODIC SNAPSHOTS: weekly per-user
    attribute restatements (last event_type per user-week) collapsed
    into validity intervals — an interval opens only where the value
    CHANGES between the user's consecutive snapshots.

    This certifies ``scd2_from_snapshots`` (the operator behind the
    FFIEC POR institution history) against a strict oracle, and is the
    snapshot-shaped twin of ``users_scd2_history`` (event runs): a
    warehouse ingesting quarterly/weekly full restatements has exactly
    this input, and the reference's own POR table is the quarterly
    case.

    Scale shape: one keyed aggregate builds the snapshots (map-side
    combine into |user x week| rows), then both SCD2 windows partition
    on user_id and share one exchange — no global window anywhere."""
    from ffiec_pq_spark.operators.windows import scd2_from_snapshots

    snap = _weekly_snapshots(spark, sf_dir)
    return scd2_from_snapshots(snap, "user_id", ["event_type"], "week")


# --------------------------------------------------------------------------
# stream_scd2_snapshot_fold


@register(
    "stream_scd2_snapshot_fold",
    _SNAPSHOT_SCD2_SQL,
    tags=["streaming", "temporal", "merge"],
)
def stream_scd2_snapshot_fold(spark, sf_dir):
    """STREAMING SCD2 maintenance: the weekly snapshots arrive as
    week-ordered micro-batches and each ``foreachBatch`` fold MERGES
    them into the accumulated dimension history — the warehouse
    "merge into SCD2 dimension" pattern, here as a pure-DataFrame fold.

    Per batch: (1) collapse the batch's own weeks with the SAME
    ``scd2_from_snapshots`` operator (a batch is a contiguous week
    range, so intra-batch runs chain correctly); (2) stitch onto the
    state's OPEN intervals with one keyed outer join — an open interval
    ABSORBS the batch's first run when the value is unchanged (its
    ``valid_from`` survives), is CLOSED at the batch run's start week
    when the value changed, and passes through untouched when the user
    has no new snapshots.  Versioned-parquet state (the
    ``stream_upsert_latest`` pattern; MERGE INTO a partitioned
    Delta/Iceberg table at 100 TB).

    Week-ordered arrival (mtime-pinned staging, the FileStreamSource
    oldest-first contract) makes the fold exactly reproduce the batch
    recursion, so the drained history certifies against the IDENTICAL
    oracle as ``users_weekly_snapshot_scd2`` — bounding the work per
    trigger must not change the history."""
    from pyspark.sql import Window

    from ffiec_pq_spark.operators.windows import scd2_from_snapshots
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    snap = _weekly_snapshots(spark, sf_dir)
    weeks = [r["week"] for r in snap.select("week").distinct().collect()]
    out_schema = (
        "user_id long, event_type string, valid_from date, "
        "valid_to date, is_current long"
    )
    if not weeks:
        return spark.createDataFrame([], out_schema)
    weeks = sorted(weeks)
    n_chunks = min(4, len(weeks))
    per = (len(weeks) + n_chunks - 1) // n_chunks
    chunks = [weeks[i * per:(i + 1) * per] for i in range(n_chunks)]

    with fold_workdir("scd2", one_off=True) as workdir:
        # chunk ids ascend with the weeks, so arrival order is week
        # order
        chunk_expr = F.lit(len(chunks) - 1)
        for i in range(len(chunks) - 2, -1, -1):
            chunk_expr = F.when(
                F.col("week").isin(chunks[i]), F.lit(i)
            ).otherwise(chunk_expr)
        src = stage_chunks(snap, chunk_expr, len(chunks), workdir)
        state = new_state("state")

        # the replay guard matters here beyond double counting:
        # re-merging a delivered week would re-stitch its runs onto
        # intervals that already absorbed them
        def step(batch_df, epoch_id):
            b = scd2_from_snapshots(
                batch_df, "user_id", ["event_type"], "week"
            )
            if state["state"] is None:
                merged = b
            else:
                prev = read_state(spark, state["state"])
                closed = prev.filter(F.col("is_current") == 0)
                open_ = prev.filter(F.col("is_current") == 1).select(
                    "user_id",
                    F.col("event_type").alias("o_type"),
                    F.col("valid_from").alias("o_from"),
                )
                # the batch's FIRST run per user is the only stitch
                # point; later runs pass through untouched
                firsts = b.withColumn(
                    "_rn",
                    F.row_number().over(
                        Window.partitionBy("user_id").orderBy("valid_from")
                    ),
                )
                first = firsts.filter(F.col("_rn") == 1).drop("_rn")
                rest = firsts.filter(F.col("_rn") > 1).drop("_rn")
                j = first.join(open_, "user_id", "full_outer")
                same = F.col("o_type").eqNullSafe(F.col("event_type"))
                # per user: batch run absent -> the open interval
                # passes through; value unchanged -> the open interval
                # ABSORBS the run (keeps o_from, inherits the run's
                # close/current status); value changed or no prior
                # open -> the run enters as-is
                stitched = j.select(
                    "user_id",
                    F.coalesce("event_type", "o_type").alias("event_type"),
                    F.when(
                        F.col("valid_from").isNull() | same, F.col("o_from")
                    ).otherwise(F.col("valid_from")).alias("valid_from"),
                    F.col("valid_to"),
                    F.coalesce("is_current", F.lit(1)).cast("long")
                    .alias("is_current"),
                )
                # a CHANGED value additionally closes the old open
                # interval at the run's start week
                closed_by_batch = j.filter(
                    F.col("o_type").isNotNull()
                    & F.col("event_type").isNotNull()
                    & ~same
                ).select(
                    "user_id",
                    F.col("o_type").alias("event_type"),
                    F.col("o_from").alias("valid_from"),
                    F.col("valid_from").alias("valid_to"),
                    F.lit(0).cast("long").alias("is_current"),
                )
                merged = closed.unionByName(closed_by_batch).unionByName(
                    stitched
                ).unionByName(rest)
            return {"state": merged}

        drain(
            spark, src, snap.schema, versioned_fold(state, workdir, step),
            workdir,
        )
        final = read_state(spark, state["state"]).select(
            "user_id", "event_type", "valid_from", "valid_to", "is_current"
        )
        return final.localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# docs_bm25_topk / retrieval_mrr_by_source

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 3
_BM25_DF_CAP = 50  # query-term stopword prune (decontaminate precedent)

_BM25_TOK = "string_split_regex(trim(text), '\\s+')"

def _bm25_topk_sql(corpus_where: str = "WHERE doc_id % 10 <> 0") -> str:
    """The BM25 top-k oracle over a parameterized corpus slice (the
    delete-fold oracle further excludes the retracted docs); the
    module-level constant is the default, byte-identical."""
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents {corpus_where}
    ),
    tok AS (
      SELECT doc_id, unnest({_BM25_TOK}) AS term FROM corpus
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(dl.dl), 0) AS DOUBLE)
               / nullif(count(*), 0) AS avdl
      FROM corpus LEFT JOIN dl USING (doc_id)
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qterm AS (
      SELECT DISTINCT doc_id AS q_id, term
      FROM (
        SELECT doc_id, unnest({_BM25_TOK}) AS term
        FROM documents WHERE doc_id % 10 = 0
      ) WHERE term <> ''
    ),
    qkeep AS (
      SELECT q.q_id, q.term, df.df FROM qterm q
      JOIN df ON df.term = q.term AND df.df <= {_BM25_DF_CAP}
    ),
    scored AS (
      SELECT q.q_id, tf.doc_id,
             CAST(floor(
               ((s.n_docs - q.df + 0.5) / (q.df + 0.5))
               * ((tf.tf * ({_BM25_K1} + 1.0))
                  / (tf.tf + {_BM25_K1} * ((1.0 - {_BM25_B})
                     + {_BM25_B} * dl.dl / nullif(s.avdl, 0.0))))
               * 1e6 + 0.5) AS BIGINT) AS term_score_micro
      FROM qkeep q
      JOIN tf ON tf.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT q_id, doc_id,
             CAST(sum(term_score_micro) AS BIGINT) AS score_micro
      FROM scored GROUP BY 1, 2
    ),
    ranked AS (
      SELECT q_id, doc_id, score_micro,
             row_number() OVER (
               PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC
             ) AS rank
      FROM agg
    )
    SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, score_micro
    FROM ranked WHERE rank <= {_BM25_TOPK}
    """


_BM25_TOPK_SQL = _bm25_topk_sql()


# Session-resident BM25 inverted index per (applicationId, dataset) —
# the stored index a deployed retrieval service reads (exactly the
# state the streaming fold maintains incrementally on disk); the
# ``_IVFPQ_SERVE`` / ``_CELL_FRAMES`` convention.  Before the memo,
# EVERY warm rep of every lexical-arm consumer re-ran the corpus
# tokenize → tf chain, and the merely-lazy persist let the plan's
# concurrent broadcast subqueries each recompute it before any
# published the cache (round-15 profile of retrieval_rrf_hybrid:
# three 13–18 s-CPU jobs over the same documents scan per warm rep).
_BM25_INDEX = Memo("bm25_index")


def _bm25_index(spark, sf_dir):
    """(tf, dl, df_t, stats) — the BM25 inverted index over the default
    corpus slice, eagerly materialized once per (session, dataset)."""
    return _BM25_INDEX.get_or_build(
        dataset_key(spark, sf_dir), lambda: _bm25_index_build(spark, sf_dir)
    )


def _bm25_index_build(spark, sf_dir):
    """Build the BM25 index relations of :func:`_bm25_index`.

    ``tf`` is REPARTITIONED by term with an explicit partition count
    before the persist: the groupBy's AQE-coalesced output is ONE
    post-shuffle partition at test scale, and the cache freezes that
    layout, so every downstream consumer (the scoring join above all)
    inherited single-task parallelism (round-15 profile: a 2.9 s
    one-task scoring stage while 31 cores idled).  A user-specified
    partition count is exempt from AQE coalescing; term-hash layout IS
    the inverted index's natural storage layout, and the df_t rollup
    reuses it shuffle-free (guide §2.4)."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    tf = tracked_persist(
        _bm25_postings(corpus).repartition(
            spark.sparkContext.defaultParallelism, "term"
        )
    )
    dl = tracked_persist(
        tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    )
    # ONE materialization job populates tf AND dl (nested chain);
    # df_t then reads the tf cache
    dl.count()
    df_t = tracked_persist(
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    df_t.count()
    # ONE row; eagerly checkpointed so consumers (each a broadcast
    # subquery) stop re-scanning the corpus for the same two scalars
    stats = (
        corpus.join(dl, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.coalesce(F.sum("dl"), F.lit(0)).cast("double")
                / F.nullif(F.count(F.lit(1)), F.lit(0))
            ).alias("avdl"),
        )
        .localCheckpoint(eager=True)
    )
    return tf, dl, df_t, stats


def _bm25_topk_frame(spark, sf_dir):
    """Shared BM25 scoring pass: (q_id, rank, doc_id, score_micro) —
    top-{k} corpus docs per eval-slice query doc.

    Inverted-index shape, no pairwise blowup: query terms equi-join the
    corpus posting list (tf) ON TERM after a df-cap prune (stopword-like
    terms with df > cap are dropped from the QUERY side, the standard
    retrieval pruning and the same bound the decontamination query
    uses), so fan-out per term is bounded by the cap.  All per-term
    arithmetic is log-free rational (the ``corpus_tfidf_top_terms``
    idf precedent — bit-identical IEEE on both engines), scaled to
    integer micros BEFORE the per-(query, doc) sum so summation order
    cannot move the hash; ranks break ties on doc_id.  The index
    relations come from the session-resident :func:`_bm25_index` (cold
    = build from parquet + score, warm = score only — the deployed
    retrieval service's steady state)."""
    d = load_table(spark, sf_dir, "documents")
    queries = d.filter(F.col("doc_id") % 10 == 0)
    tf, dl, df_t, stats = _bm25_index(spark, sf_dir)
    return _bm25_rank_postings(tf, dl, df_t, stats, queries)


def _bm25_postings(docs):
    """The postings ``(doc_id, term, tf)`` of ``docs(doc_id, text)``:
    each non-empty token's count per document."""
    from ffiec_pq_spark.operators.text import tokens

    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _bm25_rank_state(spark, st, queries, tomb=None):
    """:func:`_bm25_rank_postings` over a stream fold's maintained
    index (the ``tf``/``dl``/``df``/``meta`` state dirs of ``st``),
    with the ``tomb`` ids anti-joined out of the postings.  The
    projections are explicit: the per-epoch state dirs surface a
    partition-discovery ``epoch`` column the scorer must never see."""
    from ffiec_pq_spark.streaming.state import read_state

    tf = read_state(spark, st["tf"]).select("doc_id", "term", "tf")
    if tomb is not None:
        tf = tf.join(F.broadcast(tomb), "doc_id", "left_anti")
    stats = read_state(spark, st["meta"]).select(
        F.col("n_docs"),
        (
            F.col("sum_dl").cast("double")
            / F.nullif(F.col("n_docs"), F.lit(0))
        ).alias("avdl"),
    )
    return _bm25_rank_postings(
        tf,
        read_state(spark, st["dl"]).select("doc_id", "dl"),
        read_state(spark, st["df"]),
        stats,
        queries,
    )


def _bm25_rank_postings(tf, dl, df_t, stats, queries):
    """Score + rank against an existing BM25 index: the postings
    relation ``tf(doc_id, term, tf)``, its per-doc lengths ``dl``,
    document frequencies ``df_t`` and the 1-row ``stats(n_docs, avdl)``
    — shared verbatim by the batch query (which derives the index from
    the corpus) and the streaming fold (which serves the RESIDENT
    index its micro-batches accumulated), so both produce the
    identical physical scoring plan."""
    from ffiec_pq_spark.operators.text import tokens
    from ffiec_pq_spark.session import spread
    from pyspark.sql import Window

    # (q_id, term) is already distinct after the per-doc
    # array_distinct (q_id IS the doc) — a .distinct() here would add
    # a full shuffle to re-prove it.  With the index relations all
    # BROADCAST, the whole scoring pipeline (query tokenize -> three
    # hash-join probes -> partial agg) executes at the parallelism of
    # the query-side SCAN — one file = one task (round-15 profile: a
    # 1.3 s single-task stage); spread() repartitions only when the
    # scan yields fewer splits than the cluster can use, and the
    # projection keeps the exchange to the two columns the scorer
    # reads (guide §2.3).
    qterm = spread(queries.select("doc_id", "text")).select(
        F.col("doc_id").alias("q_id"),
        F.explode(F.array_distinct(tokens("text"))).alias("term"),
    ).filter(F.col("term") != "")
    qkeep = qterm.join(
        df_t.filter(F.col("df") <= _BM25_DF_CAP), "term"
    )

    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    tf_part = (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (
            F.lit(1.0 - _BM25_B)
            + F.lit(_BM25_B) * F.col("dl") / F.nullif(F.col("avdl"), F.lit(0.0))
        )
    )
    scored = (
        qkeep.join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "q_id",
            "doc_id",
            F.floor(idf * tf_part * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("term_score_micro"),
        )
    )
    agg = scored.groupBy("q_id", "doc_id").agg(
        F.sum("term_score_micro").cast("long").alias("score_micro")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("q_id", "rank", "doc_id", "score_micro")
    )


@register("docs_bm25_topk", _BM25_TOPK_SQL, tags=["text", "retrieval"])
def docs_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval, top-3 corpus docs per eval-slice query
    (k1=1.2, b=0.75): the retrieval baseline every RAG / hard-negative
    pipeline starts from, as an inverted-index equi-join — never a
    query x corpus cartesian.  See :func:`_bm25_topk_frame` for the
    cross-engine float discipline (rational idf, integer-micro sums)."""
    return _bm25_topk_frame(spark, sf_dir)


_RETRIEVAL_MRR_SQL = f"""
    WITH topk AS (
      {_BM25_TOPK_SQL}
    ),
    labeled AS (
      SELECT t.q_id, t.rank,
             CASE WHEN qd.source = cd.source THEN 1 ELSE 0 END AS rel
      FROM topk t
      JOIN documents qd ON qd.doc_id = t.q_id
      JOIN documents cd ON cd.doc_id = t.doc_id
    ),
    per_q AS (
      SELECT q_id, min(CASE WHEN rel = 1 THEN rank END) AS first_rel
      FROM labeled GROUP BY q_id
    ),
    qdocs AS (
      SELECT doc_id AS q_id, source FROM documents WHERE doc_id % 10 = 0
    )
    SELECT q.source,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN p.first_rel IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(coalesce(sum(CAST(floor(1e6 / p.first_rel) AS BIGINT)), 0)
                AS BIGINT) AS sum_rr_micro
    FROM qdocs q LEFT JOIN per_q p ON p.q_id = q.q_id
    GROUP BY q.source
    """


@register(
    "retrieval_mrr_by_source",
    _RETRIEVAL_MRR_SQL,
    tags=["text", "retrieval", "eval"],
)
def retrieval_mrr_by_source(spark, sf_dir):
    """Retrieval-quality eval over the shared BM25 pass: per query
    source, hit@3 and the reciprocal-rank mass against a deterministic
    relevance label (candidate is relevant iff it shares the query
    doc's ``source`` — the standard weak-supervision proxy when no
    judgments exist).  Reciprocal ranks are integer micros
    (``floor(1e6 / first_rel_rank)`` is exact for ranks 1..3), so the
    per-source sums are order-independent; queries with no retrievable
    candidates still count in ``n_queries`` via the left join."""
    topk = _bm25_topk_frame(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    qd = d.select(F.col("doc_id").alias("q_id"), F.col("source").alias("q_source"))
    cd = d.select(F.col("doc_id").alias("doc_id"), F.col("source").alias("c_source"))
    labeled = (
        topk.join(qd, "q_id")
        .join(cd, "doc_id")
        .select(
            "q_id",
            "rank",
            F.when(F.col("q_source") == F.col("c_source"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("rel"),
        )
    )
    per_q = labeled.groupBy("q_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel")
    )
    qdocs = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("q_id"), "source"
    )
    return (
        qdocs.join(per_q, "q_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(
                F.when(F.col("first_rel").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_hits"),
            F.coalesce(
                F.sum(
                    F.floor(F.lit(1e6) / F.col("first_rel")).cast("long")
                ),
                F.lit(0),
            ).cast("long").alias("sum_rr_micro"),
        )
    )


# --------------------------------------------------------------------------
# dedup_clusters_incremental — incremental maintenance of the duplicate
# CLUSTER labelling when a new batch arrives, without re-running the
# connected-components propagation over the whole corpus.


def _inc_clusters_oracle() -> str:
    from ffiec_pq_spark.queries.dedup import _reach_ctes
    from ffiec_pq_spark.queries.round9c import _INC_BATCH_MIN, _INC_MOD

    return f"""
    WITH {_reach_ctes()}
    SELECT cluster AS cluster_rep,
           count(*) AS n_members,
           array_to_string(list_sort(list(id)), ',') AS member_ids
    FROM reach GROUP BY cluster
    HAVING max(CASE WHEN id % {_INC_MOD} >= {_INC_BATCH_MIN}
               THEN 1 ELSE 0 END) = 1
    """


def _groups_with_hash(df):
    """The ``_content_groups`` collapse KEEPING the content hash — the
    stable key every incremental dedup structure joins on."""
    from pyspark.sql import Window

    from ffiec_pq_spark.operators.text import fingerprint_md5

    w = Window.partitionBy("_chash")
    return (
        df.select(
            F.col("doc_id").alias("id"),
            fingerprint_md5("text").alias("_chash"),
        )
        .withColumn("rep", F.min("id").over(w))
        .withColumn("g", F.count(F.lit(1)).over(w))
    )


# Resident corpus-side dedup state per dataset_key(spark, sf_dir): in
# a deployment these four relations ARE stored tables (content groups,
# cluster labels folded into the quotient map, rep shingles, rep LSH
# bands), maintained across ingests; rebuilding them per call would
# bill the incremental path for the full corpus pass it exists to
# avoid.  Each is pinned with an eager localCheckpoint (survives
# clearCache; session-bound, hence the application id in the key).
_INC_STATE = Memo("incremental_dedup_state")


def _inc_corpus_state(spark, sf_dir) -> dict:
    return _INC_STATE.get_or_build(
        dataset_key(spark, sf_dir),
        lambda: _inc_corpus_state_build(spark, sf_dir),
    )


def _inc_corpus_state_build(spark, sf_dir) -> dict:
    from ffiec_pq_spark.operators.dedup import (
        doc_shingles,
        dup_components_collapsed,
        lsh_bands,
        minhash_signatures,
    )
    from ffiec_pq_spark.queries.dedup import (
        _K,
        _N_BANDS,
        _N_PERM,
        _ROWS_PER_BAND,
    )
    from ffiec_pq_spark.queries.round9c import _INC_BATCH_MIN, _INC_MOD

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter((F.col("doc_id") % _INC_MOD) < _INC_BATCH_MIN)
    cg = _groups_with_hash(corpus).localCheckpoint(eager=True)
    old = dup_components_collapsed(corpus)  # (id, cluster), copies incl.
    creps = cg.filter(F.col("id") == F.col("rep")).select(
        F.col("id").alias("rep_c"), "_chash"
    )
    # per corpus content: quotient node = old cluster label, else rep
    cq = creps.join(
        old.select(F.col("id").alias("rep_c"), "cluster"), "rep_c", "left"
    ).select(
        "_chash",
        "rep_c",
        F.coalesce("cluster", "rep_c").alias("qnode"),
        F.col("cluster").isNotNull().alias("in_old_cluster"),
    ).localCheckpoint(eager=True)
    crep_docs = corpus.join(
        cq.select(F.col("rep_c").alias("doc_id")), "doc_id", "left_semi"
    )
    sh_c = doc_shingles(crep_docs, k=_K).localCheckpoint(eager=True)
    sig_c = minhash_signatures(
        crep_docs, k=_K, n_perm=_N_PERM, _shingles=sh_c
    )
    bands_c = lsh_bands(sig_c, _N_BANDS, _ROWS_PER_BAND).localCheckpoint(
        eager=True
    )
    # per-rep shingle SET SIZES, rolled up once at state-build time: the
    # per-ingest fold needs them for Jaccard verification and for the
    # shingle-nonempty test, and deriving them per call re-scanned the
    # full corpus shingle relation TWICE per ingest (profiled: the two
    # largest-input stages of the warm fold) — against this query's own
    # never-corpus-per-ingest design.  One row per corpus rep.
    sz_c = (
        sh_c.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .localCheckpoint(eager=True)
    )
    return {
        "cg": cg, "cq": cq, "sh_c": sh_c, "bands_c": bands_c, "sz_c": sz_c
    }


@register(
    "dedup_clusters_incremental",
    _inc_clusters_oracle(),
    tags=["dedup", "graph", "incremental"],
)
def dedup_clusters_incremental(spark, sf_dir):
    """Incremental duplicate-CLUSTER maintenance: fold an arriving
    batch (doc_id % 10 in {8, 9}, the ``dedup_incremental_newbatch``
    split) into an EXISTING corpus labelling and emit the UPDATED
    clusters (every cluster containing >= 1 batch doc, with its full
    membership) — the delta a deployment upserts into its label table.

    The full-rerun alternative pays the O(log d) pointer-jumping
    propagation over the whole corpus per ingest; here the propagation
    runs on the QUOTIENT graph — old clusters contracted to single
    nodes, plus the batch's new contents — whose size tracks the batch
    and the clusters it touches, never the corpus:

    1. exact layer: batch content hashes attach to existing content
       groups (keyed hash join; a batch copy can RELABEL an old
       cluster when it carries a smaller doc id — the min-label
       algebra handles it as a node-value merge, no propagation);
    2. near layer: LSH bands of the batch's genuinely-new contents
       join the stored corpus rep bands (asymmetric — never
       corpus x corpus) plus batch x batch, verified with the
       pair-driven exact Jaccard;
    3. the surviving edges are projected onto quotient nodes (old
       cluster label, else content rep), each node valued at the min
       doc id it now covers, and ``connected_components`` runs on
       that tiny relation;
    4. membership expands back through content hashes; clusters with
       no batch member are untouched BY CONSTRUCTION (no new edge or
       copy reaches them) and are not re-emitted.

    Correctness leans on the same quotient argument the rep-level
    collapse proved: min id reachable in the naive expanded graph
    equals min node-value reachable in the quotient graph.  The
    oracle replays the NAIVE full-corpus recursive-CTE clustering and
    keeps the batch-touching clusters — the incremental path must
    reproduce the full batch answer exactly.

    Ledger-seconds decomposition (the nprobe-curve convention): the
    certification time is CORPUS-STATE-BUILD dominated — the first
    call per (session, dataset) builds the stored tables a deployment
    already has (content groups + labelling + rep bands; the same
    work dedup_clusters pays).  The per-ingest fold a daily pipeline
    pays is the WARM number: ~10 s at sf0.1 against the DuckDB
    oracle's 25 s full-clustering replay (0.40x), flat under
    duplication (8x ratio 0.86) and batch-linear at stress16.  The
    bench records both columns (cold = state build + fold, warm =
    fold only)."""
    from ffiec_pq_spark.operators.dedup import (
        _project_jaccard,
        connected_components,
        doc_shingles,
        lsh_bands,
        minhash_signatures,
    )
    from ffiec_pq_spark.queries.dedup import (
        _K,
        _N_BANDS,
        _N_PERM,
        _ROWS_PER_BAND,
        _THRESHOLD,
    )
    from ffiec_pq_spark.queries.round9c import _INC_BATCH_MIN, _INC_MOD

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter((F.col("doc_id") % _INC_MOD) >= _INC_BATCH_MIN)

    # ---- stored state (deployment tables; resident per session) ----
    st = _inc_corpus_state(spark, sf_dir)
    cg, cq, sh_c, bands_c = st["cg"], st["cq"], st["sh_c"], st["bands_c"]
    sz_c = st["sz_c"]

    # ---- batch ingest ----
    # (id, _chash, rep, g); materialized eagerly — the md5 fingerprint
    # over the batch text is CPU-heavy and bg feeds several branches
    # that execute as concurrent broadcast subqueries (see sh_b below)
    bg = tracked_persist(_groups_with_hash(batch))
    breps = bg.filter(F.col("id") == F.col("rep")).select(
        F.col("id").alias("b_rep"), "_chash"
    )
    rem_reps = breps.join(cq, "_chash", "left_anti")  # genuinely new contents
    rem_docs = batch.join(
        rem_reps.select(F.col("b_rep").alias("doc_id")), "doc_id", "left_semi"
    )

    # hash -> quotient node (corpus contents via cq; new contents self)
    hq = cq.select("_chash", "qnode").unionByName(
        rem_reps.select("_chash", F.col("b_rep").alias("qnode"))
    )

    # quotient node value = min doc id it covers (old label, every
    # content rep mapped to it, every attached batch min).  Persisted:
    # it feeds qfinal AND both repmap orientations, and the consumers
    # execute as concurrent broadcast subqueries.
    node_val = tracked_persist(
        cq.select("qnode", F.col("rep_c").alias("v"))
        .unionByName(cq.select("qnode", F.col("qnode").alias("v")))
        .unionByName(
            breps.join(hq, "_chash").select("qnode", F.col("b_rep").alias("v"))
        )
        .groupBy("qnode")
        .agg(F.min("v").alias("val"))
    )

    # ---- new edges: batch x corpus-reps + batch x batch, verified ----
    # The final plan executes its many broadcast subqueries CONCURRENTLY;
    # a merely-lazy persist here lets those racing subquery jobs each
    # recompute the shingle -> minhash -> bands chain before any of them
    # publishes the cache (profiled: six 6-10s-CPU stages per warm rep,
    # all scanning the docs parquet).  Materialize the two shared
    # relations eagerly, ONCE, before the consumers launch.
    sh_b = tracked_persist(doc_shingles(rem_docs, k=_K))
    sig_b = minhash_signatures(rem_docs, k=_K, n_perm=_N_PERM, _shingles=sh_b)
    bands_b = tracked_persist(lsh_bands(sig_b, _N_BANDS, _ROWS_PER_BAND))
    # batch-side shingle set sizes, shared by both verify arms (and by
    # cand_bb's arm twice).  PERSISTED: left lazy, each of its three
    # broadcast-subquery consumers re-aggregated the full sh_b relation
    # (round-16 profile: three identical 997-row HashAggregate stages,
    # ~3.5 s task time each, per warm rep).
    sz_b = tracked_persist(
        sh_b.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    )
    # ONE materialization job populates the whole nested chain (bg and
    # sh_b are ancestors of bands_b) before the racing broadcast-
    # subquery consumers launch; sz_b then materializes from the sh_b
    # cache in a second, near-free job.  (A union-count barrier over
    # bands_b+sz_b recomputes the not-yet-published sh_b chain in each
    # concurrent union leg — A/B'd on dedup_minhash_lsh's identical
    # shape: cold 20.2 vs 15.2 s.  Sequential counts keep the chain
    # computed once.)
    bands_b.count()
    sz_b.count()
    cand_bc = (
        bands_b.select(F.col("id").alias("id_a"), "band", "bkey")
        .join(bands_c.select(F.col("id").alias("id_b"), "band", "bkey"),
              ["band", "bkey"])
        .select("id_a", "id_b")
        .distinct()
    )
    bb_l = bands_b.select(F.col("id").alias("id_a"), "band", "bkey")
    bb_r = bands_b.select(F.col("id").alias("id_b"), "band", "bkey")
    cand_bb = (
        bb_l.join(bb_r, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # (A fused single-pass verify over the unioned candidates/shingle
    # relations was A/B-measured at 21 s warm vs 7.7 s for this
    # two-arm form — the union defeats the per-arm join-strategy and
    # statistics choices — and was reverted; see OPTIMIZATION_r15.md.)

    def verify(cand, sh_right, sz_right):
        a_sh = sh_b.select(F.col("id").alias("id_a"), "shingle")
        r_sh = sh_right.select(F.col("id").alias("id_b"), "shingle")
        inter = (
            cand.join(a_sh, "id_a")
            .join(r_sh, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        return _project_jaccard(
            inter.join(
                sz_b.select(
                    F.col("id").alias("id_a"), F.col("n_sh").alias("size_a")
                ),
                "id_a",
            ).join(
                sz_right.select(
                    F.col("id").alias("id_b"), F.col("n_sh").alias("size_b")
                ),
                "id_b",
            ),
            _THRESHOLD,
        ).select("id_a", "id_b")

    pairs = verify(cand_bc, sh_c, sz_c).unionByName(
        verify(cand_bb, sh_b, sz_b)
    )

    # rep id -> quotient node value, for edge projection (persisted:
    # joined on both edge endpoints)
    repmap = tracked_persist(
        cq.select(F.col("rep_c").alias("node_id"), "qnode")
        .unionByName(
            rem_reps.select(
                F.col("b_rep").alias("node_id"),
                F.col("b_rep").alias("qnode"),
            )
        )
        .join(node_val, "qnode")
        .select("node_id", "val")
    )
    # node_val and repmap are populated by connected_components'
    # synchronous edge materialization below (both are ancestors of
    # edge_vals), before any racing consumer launches
    edge_vals = (
        pairs.join(repmap.withColumnRenamed("node_id", "id_a")
                   .withColumnRenamed("val", "val_a"), "id_a")
        .join(repmap.withColumnRenamed("node_id", "id_b")
              .withColumnRenamed("val", "val_b"), "id_b")
        .filter(F.col("val_a") != F.col("val_b"))
        .select("val_a", "val_b")
        .distinct()
    )
    cc = connected_components(edge_vals, "val_a", "val_b")

    # ---- final labels + membership expansion ----
    qfinal = node_val.join(
        cc.withColumnRenamed("id", "val"), "val", "left"
    ).select(
        "qnode",
        F.coalesce("cluster", "val").alias("label"),
        F.col("cluster").isNotNull().alias("in_cc"),
    )
    all_docs_hash = cg.select("id", "_chash").unionByName(
        bg.select("id", "_chash")
    )
    # consumed twice (the copy-count gate and the kept expansion) —
    # persist so the hash/qnode/label join chain runs once
    members = tracked_persist(
        all_docs_hash.join(hq, "_chash").join(qfinal, "qnode")
    )
    members.count()  # eager: the copy-count gate and the kept expansion race

    # a quotient node is a CLUSTER iff it merged via a new edge, was
    # already an old cluster, or is a single content with >= 2 total
    # copies and a non-empty shingle set (within-group pairs).  A doc
    # has a non-empty shingle set iff it produced >= 1 (id, shingle)
    # row, so presence in the stored sh_c / fresh sh_b relation IS the
    # set_size > 0 test (NULL-text docs produce no rows).
    old_q = cq.filter(F.col("in_old_cluster")).select("qnode").distinct()
    # presence in sh_c/sh_b IS the set_size > 0 test; the corpus side
    # reads the precomputed one-row-per-rep size table, not the full
    # corpus shingle relation
    nonempty_q = (
        sz_c.select("id")
        .unionByName(sh_b.select("id"))
        .distinct()
        .select(F.col("id").alias("qnode"))
    )
    qcnt = members.groupBy("qnode").agg(F.count(F.lit(1)).alias("n_copies"))
    keep_q = (
        qfinal.filter(F.col("in_cc")).select("qnode")
        .unionByName(old_q)
        .unionByName(
            qcnt.filter(F.col("n_copies") >= 2)
            .join(nonempty_q, "qnode", "left_semi")
            .select("qnode")
        )
        .distinct()
    )
    kept = members.join(keep_q, "qnode", "left_semi")
    return (
        kept.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("id"))).cast(
                    "array<string>"
                ),
                ",",
            ).alias("member_ids"),
            F.max(
                ((F.col("id") % _INC_MOD) >= _INC_BATCH_MIN).cast("int")
            ).alias("_has_batch"),
        )
        .filter(F.col("_has_batch") == 1)
        .select(
            F.col("label").alias("cluster_rep"), "n_members", "member_ids"
        )
    )


# --------------------------------------------------------------------------
# corpus_source_interleave_order — source-balanced curriculum ordering


_INTERLEAVE_SQL = r"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tok
      FROM documents
    ),
    within AS (
      SELECT doc_id, source, n_tok,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_tok DESC, doc_id ASC
             ) AS BIGINT) AS src_rank
      FROM scored
    )
    SELECT doc_id, source, n_tok, src_rank,
           CAST(row_number() OVER (
             ORDER BY src_rank ASC, source ASC, doc_id ASC
           ) AS BIGINT) AS global_pos
    FROM within
    """


@register(
    "corpus_source_interleave_order",
    _INTERLEAVE_SQL,
    tags=["curation", "ordering"],
)
def corpus_source_interleave_order(spark, sf_dir):
    """Source-balanced training order: documents are quality-ordered
    WITHIN each source (token count descending here — an all-integer
    stand-in for any per-doc score), then the sources are ROUND-ROBIN
    interleaved by taking every source's rank-1 docs first, then every
    rank-2, and so on — the standard interleave that stops one
    dominant source from monopolizing any window of the training
    stream (the mixture analog of the CCNet per-source cut).

    Both ranks are EXACT global row_numbers computed with
    ``distributed_rank`` — the within-source rank partitions by
    source, and the global interleave position range-partitions on
    (src_rank, source, doc_id) — so no single-reducer window appears
    anywhere even though the output is a total order over the corpus
    (plan-pinned).  Every ordered quantity is an integer: the hash
    compare cannot move."""
    from ffiec_pq_spark.operators.text import tokens
    from ffiec_pq_spark.operators.windows import distributed_rank

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    within = distributed_rank(
        scored,
        order_cols=[F.col("n_tok").desc(), F.col("doc_id").asc()],
        part_cols=["source"],
        rank_col="src_rank",
    ).select("doc_id", "source", "n_tok", "src_rank")
    return distributed_rank(
        within,
        order_cols=[
            F.col("src_rank").asc(),
            F.col("source").asc(),
            F.col("doc_id").asc(),
        ],
        rank_col="global_pos",
    ).select(
        "doc_id",
        "source",
        "n_tok",
        F.col("src_rank").cast("long").alias("src_rank"),
        F.col("global_pos").cast("long").alias("global_pos"),
    )
