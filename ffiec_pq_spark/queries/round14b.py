"""Round-14 second wave: the learned gate ensemble gets the full
trained-asset lifecycle its inputs already have —

- ``gate_ensemble_heldout_eval`` — the no-leakage evaluation every
  deployed filter needs before its threshold is trusted (the
  ``embedding_probe_heldout_eval`` convention): train the 4-weight
  combiner on the 80% id-hash slice of the shared gated population,
  gate each split at its OWN top-10% percentile, report the
  (split, y, kept) contingency in exact integers.
- ``gate_ensemble_unlearn`` — exact machine unlearning for the
  combiner (the ``embedding_probe_unlearn`` result, d=4): the Gram /
  moment statistics are int64 SUMS over population rows, so erased
  docs' contributions subtract out exactly and the re-fit weights are
  BIT-FOR-BIT the survivors-only retrain — which is what the oracle
  computes from scratch.  The served view is the survivors'
  calibration ladder under the corrected weights.

Both share :func:`~ffiec_pq_spark.queries.round14._ens_population`
(the resident gated population + quantized features), so the whole
ensemble family — calibration, eval, erasure — scores one relation
and cannot drift."""

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
from ffiec_pq_spark.resident import Memo, tracked_persist
from ffiec_pq_spark.session import dataset_key, load_table
from ffiec_pq_spark.queries.round14 import (
    _ENS_DIM,
    _ENS_PCTS,
    _ens_ladder,
    _ens_population,
    _ens_score_col,
    _ens_stats,
    _ens_xq_sql,
    _ensemble_sql,
)

_ENS_HELDOUT_PRED = "doc_id % 5 <> 0"  # the probe family's 80% slice
_ENS_FORGET_MOD = 9
_ENS_FORGET_SLOT = 4  # the shared unlearn slot


def _ens_gd_ctes(train_pred: str = "") -> list:
    """The ensemble's unrolled integer-GD CTE chain over the shared
    population (``_pop_ctes`` + quantized features), parameterized by
    a BARE training predicate — shared by the three family oracles so
    the recursion is written once.  Returns the CTE list through
    ``escored`` (doc_id, y, ens_micro over the FULL population)."""
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
        """lab AS (
      SELECT vec_id AS doc_id,
             CASE WHEN coalesce(label, 0) = 0 THEN 1 ELSE 0 END AS y
      FROM embeddings
    )"""
    )
    # MATERIALIZED: every reference would otherwise re-inline the full
    # pop chain (probe GD + KN3 estimation) — the round-14 lesson
    ctes.append(
        f"""fx AS MATERIALIZED (
      SELECT doc_id, unnest([{idx}]) AS i, unnest([{feats}]) AS xq
      FROM pop
    )"""
    )
    tr_where = f" WHERE {train_pred}" if train_pred else ""
    ctes.append(f"trf AS (SELECT * FROM fx{tr_where})")
    ctes.append(
        f"nn2 AS (SELECT count(*) // {_ENS_DIM} AS n FROM trf)"
    )
    ctes.append(
        """gram2 AS (
      SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS aa
      FROM trf a JOIN trf b USING (doc_id) GROUP BY 1, 2
    )"""
    )
    ctes.append(
        f"""bv2 AS (
      SELECT f.i, sum(f.xq * l.y) * {PROBE_SX * PROBE_SW} AS bs
      FROM trf f JOIN lab l USING (doc_id) GROUP BY f.i
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
    return ctes


def _ens_heldout_sql() -> str:
    ctes = _ens_gd_ctes(train_pred=_ENS_HELDOUT_PRED)
    ctes.append(
        f"""eranked AS (
      SELECT CASE WHEN {_ENS_HELDOUT_PRED} THEN 'train'
                  ELSE 'heldout' END AS split,
             y, ens_micro,
             row_number() OVER (
               PARTITION BY CASE WHEN {_ENS_HELDOUT_PRED} THEN 'train'
                                 ELSE 'heldout' END
               ORDER BY ens_micro DESC, doc_id ASC
             ) AS rank,
             count(*) OVER (
               PARTITION BY CASE WHEN {_ENS_HELDOUT_PRED} THEN 'train'
                                 ELSE 'heldout' END
             ) AS n_split
      FROM escored
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT split, y,
           (rank <= greatest(n_split // 10, 1)) AS kept,
           CAST(count(*) AS BIGINT) AS n
    FROM eranked
    GROUP BY split, y, kept
    """
    )


@register(
    "gate_ensemble_heldout_eval",
    _ens_heldout_sql(),
    tags=["quality", "curation", "iterative", "eval"],
)
def gate_ensemble_heldout_eval(spark, sf_dir):
    """No-leakage evaluation of the learned gate ensemble: train the
    4-weight integer combiner on the 80% id-hash slice of the shared
    gated population, score BOTH splits, gate each at its own top-10%
    percentile, and report the (split, y, kept) contingency — whether
    the learned combination's precision survives off the training
    slice is the number that decides if it ships (the
    ``embedding_probe_heldout_eval`` discipline, one model up).

    Cross-engine exactness: the probe-family integer recursion over
    the pinned quantized features (the oracle replays it as unrolled
    CTEs, trained on the filtered slice); ranks are total orders with
    id tiebreaks per split; cutoffs are integer floor division.

    Plan: one 4-row Gram aggregation over the TRAIN slice of the
    resident gated population + driver GD; one shuffle-free scoring
    projection over the full population; a split-keyed
    :func:`distributed_rank` (never one reducer); a 2-row split-size
    broadcast; a <= 8-group contingency rollup."""
    from ffiec_pq_spark.operators.linear_probe import probe_fit_int
    from ffiec_pq_spark.operators.windows import distributed_rank

    base = _ens_population(spark, sf_dir)
    is_train = F.col("doc_id") % 5 != 0
    w = _ENS_SPLIT_MODELS.get_or_build(
        dataset_key(None, sf_dir) + ("train80",),
        lambda: probe_fit_int(*_ens_stats(base.filter(is_train))),
    )
    scored = base.select(
        "doc_id",
        "y",
        _ens_score_col(w).alias("ens_micro"),
        F.when(is_train, F.lit("train"))
        .otherwise(F.lit("heldout"))
        .alias("split"),
    )
    n_split = scored.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_split")
    )
    ranked = distributed_rank(
        scored,
        [F.col("ens_micro").desc(), F.col("doc_id").asc()],
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
                    F.expr("n_split div 10"), F.lit(1).cast("long")
                )
            ).alias("kept"),
        )
        .groupBy("split", "y", "kept")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# Trained 80%-slice combiners per dataset (the _PROBE_MODELS "#train80"
# convention) and the full-population sufficient statistics the
# unlearn path subtracts from.
_ENS_SPLIT_MODELS = Memo("ensemble_split_models")
_ENS_STATS_MEMO = Memo("ensemble_lifecycle_state")


def _ens_unlearn_sql() -> str:
    """Ground truth: from-scratch training AND scoring on the
    SURVIVORS only, swept through the standard ladder."""
    surv = f"NOT (doc_id % {_ENS_FORGET_MOD} = {_ENS_FORGET_SLOT})"
    ctes = _ens_gd_ctes(train_pred=surv)
    ctes.append(
        f"""sscored AS (
      SELECT doc_id, y, ens_micro FROM escored WHERE {surv}
    )"""
    )
    ctes.append(
        """sranked AS (
      SELECT doc_id, y, ens_micro,
             row_number() OVER (
               ORDER BY ens_micro DESC, doc_id ASC
             ) AS rank
      FROM sscored
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
             ra.rank <= greatest((cnt.n * r.thr_pct) // 100, 1) AS kept
      FROM sranked ra CROSS JOIN erung r
      CROSS JOIN (SELECT count(*) AS n FROM sscored) cnt
      LEFT JOIN etok t ON t.doc_id = ra.doc_id
    )
    GROUP BY thr_pct
    """
    )


@register(
    "gate_ensemble_unlearn",
    _ens_unlearn_sql(),
    tags=["quality", "curation", "iterative", "privacy"],
)
def gate_ensemble_unlearn(spark, sf_dir):
    """EXACT machine unlearning for the learned gate ensemble — the
    newest trained asset joins the lifecycle every other one has
    (probe / KN / scorecard / fused-retrieval erasure): when documents
    are erased, the combiner must forget them EXACTLY.

    Linear models admit exact unlearning through sufficient statistics
    (Guo et al. 2020, "Certified Data Removal", and this engine's
    integer-GD refinement: bit-for-bit, not up-to-float-error): the
    4x4 Gram and moment sums subtract the erased docs' contributions —

        A' = A − Σ_del xq xqᵀ,  B' = B − Σ_del xq·y,  n' = n − |del|

    — the GD re-fit on 128 bytes of corrected state is driver-side,
    and the served view is the SURVIVORS' calibration ladder under the
    corrected weights.  The oracle trains and scores from scratch on
    the survivors; the hash must match.

    Plan: the resident full-population statistics (one 4-row Gram
    aggregation, memoized) minus one Gram aggregation over the ERASED
    slice only (cost ∝ deletion, never the population); scoring and
    the ladder are the shared :func:`_ens_ladder` construction over
    the survivor slice."""
    from ffiec_pq_spark.operators.linear_probe import probe_fit_int

    base = _ens_population(spark, sf_dir)
    erased = F.col("doc_id") % _ENS_FORGET_MOD == _ENS_FORGET_SLOT
    a, b, n = _ENS_STATS_MEMO.get_or_build(
        dataset_key(None, sf_dir), lambda: _ens_stats(base)
    )
    da, db, dn = _ens_stats(base.filter(erased))
    a2 = [
        [a[i][j] - da[i][j] for j in range(_ENS_DIM)]
        for i in range(_ENS_DIM)
    ]
    b2 = [b[i] - db[i] for i in range(_ENS_DIM)]
    w2 = probe_fit_int(a2, b2, n - dn)
    scored = base.filter(~erased).select(
        "doc_id", "y", _ens_score_col(w2).alias("ens_micro")
    )
    return _ens_ladder(spark, sf_dir, scored)


# --------------------------------------------------------------------------
# retrieval_fusion_significance — is the hybrid's MRR gain over the
# lexical arm ROBUST, or a few lucky queries?  A deterministic paired
# bootstrap over per-query reciprocal-rank differences: the eval-rigor
# step after the point estimate (retrieval_fusion_gain), done with
# hash-seeded resampling so both engines draw the identical replicates
# and the whole test is exact integer arithmetic.

_SIG_REPS = 200
_SIG_SEED = 17


def _fusion_sig_sql() -> str:
    from ffiec_pq_spark.functions.hashing import hash60_sql
    from ffiec_pq_spark.queries.round13c import _NDCG_BUCKET, _hybrid_ctes

    pick = hash60_sql(
        "CAST(rep AS VARCHAR) || ':' || CAST(slot AS VARCHAR)",
        seed=_SIG_SEED,
    )
    return f"""
    WITH {_hybrid_ctes()},
    qdim AS (
      SELECT doc_id AS q_id, lang AS q_lang,
             n_chars // {_NDCG_BUCKET} AS q_bucket
      FROM documents WHERE doc_id % 10 = 0
    ),
    cdim AS (
      SELECT doc_id, lang AS c_lang, n_chars // {_NDCG_BUCKET} AS c_bucket
      FROM documents WHERE doc_id % 10 <> 0
    ),
    arms AS (
      SELECT 'lex' AS arm, q_id, CAST(rank AS BIGINT) AS rank, doc_id
      FROM lex
      UNION ALL
      SELECT 'hybrid' AS arm, q_id, rank, doc_id FROM hybrid
    ),
    firstrel AS (
      SELECT a.arm, a.q_id,
             min(CASE WHEN q.q_lang = c.c_lang
                       AND q.q_bucket = c.c_bucket THEN a.rank END)
               AS first_rel
      FROM arms a
      JOIN qdim q ON q.q_id = a.q_id
      JOIN cdim c ON c.doc_id = a.doc_id
      GROUP BY a.arm, a.q_id
    ),
    diffs AS (
      SELECT q.q_id,
             CAST(coalesce(1000000 // h.first_rel, 0)
                - coalesce(1000000 // l.first_rel, 0) AS BIGINT) AS d
      FROM qdim q
      LEFT JOIN firstrel h ON h.arm = 'hybrid' AND h.q_id = q.q_id
      LEFT JOIN firstrel l ON l.arm = 'lex' AND l.q_id = q.q_id
    ),
    idx AS MATERIALIZED (
      SELECT q_id, d,
             row_number() OVER (ORDER BY q_id ASC) AS i
      FROM diffs
    ),
    nn3 AS (SELECT count(*) AS n FROM idx),
    grid AS (
      SELECT r.rep, s.slot,
             ({pick} % nn3.n) + 1 AS pick
      FROM (SELECT unnest(generate_series(1, {_SIG_REPS})) AS rep) r
      CROSS JOIN (
        SELECT unnest(generate_series(1, (SELECT n FROM nn3))) AS slot
      ) s
      CROSS JOIN nn3
    ),
    reps AS (
      SELECT g.rep, CAST(sum(x.d) AS BIGINT) AS rep_sum
      FROM grid g JOIN idx x ON x.i = g.pick
      GROUP BY g.rep
    )
    SELECT CAST(nn3.n AS BIGINT) AS n_queries,
           CAST((SELECT sum(d) FROM idx) AS BIGINT) AS sum_diff_micro,
           CAST({_SIG_REPS} AS BIGINT) AS n_reps,
           CAST(sum(CASE WHEN rep_sum <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reps_nonpos,
           CAST(((sum(CASE WHEN rep_sum <= 0 THEN 1 ELSE 0 END) + 1)
                 * 1000000) // ({_SIG_REPS} + 1) AS BIGINT) AS p_micro
    FROM reps CROSS JOIN nn3
    GROUP BY nn3.n
    """


@register(
    "retrieval_fusion_significance",
    _fusion_sig_sql(),
    tags=["retrieval", "eval"],
)
def retrieval_fusion_significance(spark, sf_dir):
    """Paired-bootstrap significance of the hybrid's MRR gain over the
    lexical arm: per eval query, the reciprocal-rank difference
    (hybrid − lex, integer micros, 0 for misses) under the strict
    relevance label; then {_SIG_REPS} bootstrap replicates resample
    the queries WITH replacement and the test counts replicates whose
    total gain is ≤ 0 — the add-one bootstrap p
    (``(n_nonpos + 1) / (R + 1)``, in exact integer micros).  This is
    the eval-rigor rung above ``retrieval_fusion_gain``'s point
    estimate: a gain carried by two lucky queries dies here.

    Determinism: replicate draws are the portable 60-bit hash of
    (rep, slot) modulo n over a total-order query index — both
    engines draw the IDENTICAL resamples, so the p-value is one exact
    integer, not a seed-dependent float.

    Plan: the two list passes are the pinned ones; diffs are one
    label join + a per-(arm, q) aggregate merged on q; the replicate
    grid is R × n rows of pure hash arithmetic (no data explosion
    beyond the literal rep array) equi-joined against the n-row
    indexed diff relation; the rollup is R groups then one row."""
    from ffiec_pq_spark.functions.hashing import hash60
    from ffiec_pq_spark.operators.windows import distributed_rank
    from ffiec_pq_spark.queries.round12 import _bm25_topk_frame
    from ffiec_pq_spark.queries.round13c import (
        _NDCG_BUCKET,
        _dense_topk_frame,
        _rrf_hybrid_frame,
    )

    lex_list = tracked_persist(_bm25_topk_frame(spark, sf_dir))
    hyb = _rrf_hybrid_frame(
        spark, sf_dir, lex=lex_list, dense=_dense_topk_frame(spark, sf_dir)
    )
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(f"n_chars div {_NDCG_BUCKET}")
    qdim = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("q_id"),
        F.col("lang").alias("q_lang"),
        bucket.alias("q_bucket"),
    )
    cdim = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.col("lang").alias("c_lang"),
        bucket.alias("c_bucket"),
    )
    rel = (F.col("q_lang") == F.col("c_lang")) & (
        F.col("q_bucket") == F.col("c_bucket")
    )
    arms = lex_list.select(
        F.lit("lex").alias("arm"),
        "q_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
    ).unionByName(
        hyb.select(F.lit("hybrid").alias("arm"), "q_id", "rank", "doc_id")
    )
    firstrel = (
        arms.join(qdim, "q_id")
        .join(cdim, "doc_id")
        .groupBy("arm", "q_id")
        .agg(F.min(F.when(rel, F.col("rank"))).alias("first_rel"))
    )
    rr = lambda c: F.coalesce(  # noqa: E731
        F.expr(f"1000000 div {c}"), F.lit(0)
    ).cast("long")
    diffs = (
        qdim.select("q_id")
        .join(
            firstrel.filter(F.col("arm") == "hybrid").select(
                "q_id", F.col("first_rel").alias("fr_h")
            ),
            "q_id",
            "left",
        )
        .join(
            firstrel.filter(F.col("arm") == "lex").select(
                "q_id", F.col("first_rel").alias("fr_l")
            ),
            "q_id",
            "left",
        )
        .select("q_id", (rr("fr_h") - rr("fr_l")).alias("d"))
    )
    idx = tracked_persist(
        distributed_rank(diffs, [F.col("q_id").asc()], rank_col="i")
    )
    n_q = idx.count()
    if n_q == 0:
        # empty-corpus contract: the oracle's GROUP BY over zero
        # replicas yields no rows; mirror it instead of dividing by n=0
        return spark.createDataFrame(
            [],
            "n_queries long, sum_diff_micro long, n_reps long, "
            "n_reps_nonpos long, p_micro long",
        )
    grid = (
        spark.range(1, _SIG_REPS + 1)
        .select(F.col("id").alias("rep"))
        .join(
            spark.range(1, n_q + 1).select(F.col("id").alias("slot")),
            how="cross",
        )
        .select(
            "rep",
            (
                hash60(
                    F.concat(
                        F.col("rep").cast("string"),
                        F.lit(":"),
                        F.col("slot").cast("string"),
                    ),
                    seed=_SIG_SEED,
                )
                % F.lit(n_q)
                + F.lit(1)
            ).alias("pick"),
        )
    )
    reps = grid.join(
        F.broadcast(idx.select(F.col("i").alias("pick"), "d")), "pick"
    ).groupBy("rep").agg(F.sum("d").cast("long").alias("rep_sum"))
    total = idx.agg(F.sum("d").cast("long").alias("s")).collect()[0]["s"]
    nonpos = F.sum(
        F.when(F.col("rep_sum") <= 0, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return reps.agg(
        F.lit(n_q).cast("long").alias("n_queries"),
        F.lit(int(total)).cast("long").alias("sum_diff_micro"),
        F.lit(_SIG_REPS).cast("long").alias("n_reps"),
        nonpos.alias("n_reps_nonpos"),
        F.expr(
            f"((sum(CASE WHEN rep_sum <= 0 THEN 1 ELSE 0 END) + 1)"
            f" * 1000000) div ({_SIG_REPS} + 1)"
        ).cast("long").alias("p_micro"),
    )


# --------------------------------------------------------------------------
# stream_ensemble_stats_fold — the MERGE half of the ensemble's
# sufficient-statistics lifecycle (the triad's missing rung after
# round 14: batch train + exact unlearn existed, accumulation didn't).


def _ens_stats_fold(spark, state, workdir):
    """foreachBatch fold factory (module-level for replay/crash
    tests): each arriving population micro-batch contributes its OWN
    4-row ``(i, a0..a3, b, n)`` statistics — one aggregation over the
    BATCH, never the accumulated population — keyed-added into the
    versioned statistics relation (the ``stream_probe_stats_fold``
    shape, d=4).  Integer sums are commutative and associative, so
    the drained relation equals the batch aggregation EXACTLY under
    any arrival order."""
    from ffiec_pq_spark.queries.round14 import _ens_stats_rows

    sum_cols = [f"a{j}" for j in range(_ENS_DIM)] + ["b", "n"]

    def step(batch_df, epoch_id):
        stats_b = _ens_stats_rows(batch_df.select("y", "_xqa"))
        return {
            "stats": keyed_add(
                spark, state["stats"], stats_b, ["i"], sum_cols
            )
        }

    return versioned_fold(state, workdir, step)


def _ens_stream_build(spark, pop, chunk_order=None, n_chunks=4):
    """Run the population ingest stream to completion and return the
    maintained statistics state ``{workdir, stats}``."""
    with fold_workdir("ens") as workdir:
        staged = pop.select(F.col("doc_id").alias("id"), "y", "_xqa")
        src = stage_chunks(
            staged, F.pmod("id", F.lit(n_chunks)), n_chunks, workdir,
            chunk_order,
        )
        state = new_state("stats")
        fold = _ens_stats_fold(spark, state, workdir)
        drain(spark, src, staged.schema, fold, workdir)
        return {"workdir": workdir, "stats": state["stats"]}


_ENS_STREAM_STATE = Memo("ensemble_stream_state")


@register(
    "stream_ensemble_stats_fold",
    _ensemble_sql(),  # the batch calibration oracle, verbatim
    tags=["streaming", "quality", "curation", "iterative"],
)
def stream_ensemble_stats_fold(spark, sf_dir, chunk_order=None):
    """INCREMENTAL training for the learned gate ensemble: scored
    population rows arrive as micro-batches and each fold keyed-adds
    their Gram/moment contributions into the resident 4-row
    sufficient-statistics relation — completing the triad the repo's
    other trained assets already satisfy (probe, KN, scorecard, fused
    retrieval): batch train (``gate_ensemble_calibration``), exact
    unlearn (``gate_ensemble_unlearn``, keyed SUBTRACT), and now
    streaming accumulation (keyed ADD) — all three arms share the
    same integer statistics, so all three stay bit-for-bit consistent
    by construction (the docstring claim of ``_ens_stats`` is now a
    certified query, not an assertion).

    The serve refits on the drained statistics (driver GD on 128
    bytes) and sweeps the standard calibration ladder over the
    resident gated population — certified against the IDENTICAL
    oracle as ``gate_ensemble_calibration``: accumulating the
    statistics incrementally must not move a single rung.

    Resident per (session, dataset): cold = population stage + 4-epoch
    fold replay + refit + ladder; warm = refit + ladder against the
    resident relation.  An explicit ``chunk_order`` (the
    order-invariance test) always folds fresh."""
    from ffiec_pq_spark.operators.linear_probe import (
        probe_fit_int,
        stats_rows_to_abn,
    )
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    pop = _ens_population(spark, sf_dir)

    def ladder(w):
        scored = pop.select(
            "doc_id", "y", _ens_score_col(w).alias("ens_micro")
        )
        return _ens_ladder(spark, sf_dir, scored)

    def serve(st):
        a, b, n = stats_rows_to_abn(
            read_state(spark, st["stats"]).collect(), _ENS_DIM
        )
        return ladder(probe_fit_int(a, b, n))

    # the batch path's empty contract: zero statistics train the zero
    # combiner; the ladder over the empty population is the oracle's
    # empty result
    return serve_fold(
        _ENS_STREAM_STATE, dataset_key(spark, sf_dir), pop,
        lambda: _ens_stream_build(spark, pop, chunk_order), serve,
        lambda: ladder([0] * _ENS_DIM),
        one_off=chunk_order is not None,
    )
