"""Round-13 third wave: the hybrid-retrieval layer.

- ``retrieval_rrf_hybrid`` — reciprocal-rank fusion (Cormack et al.
  2009, the fusion every production RAG stack ships) of the BM25
  lexical top-k (the round-12 inverted-index pass, shared verbatim)
  with an IVF-pruned dense cosine top-k over the embeddings table
  (``doc_id = vec_id``, the established convention).
- ``retrieval_ndcg_eval`` — graded nDCG@3 over the FUSED ranking
  against a deterministic two-level relevance proxy, with true
  ideal-DCG from collection-wide relevant-counts.  Every DCG term is
  a PRECOMPUTED integer literal (gain ∈ {0,1,2} × rank ∈ {1,2,3}
  → six constants embedded in both engines), so the whole eval is
  exact integer arithmetic — no runtime logs to disagree on.
- ``kn_gate_calibration`` — the threshold ladder for the modified-KN
  trigram perplexity filter (``doc_kn_trigram``), completing the
  gate-calibration family: heuristic score (quality_threshold_sweep),
  trained probe (probe_gate_calibration), and now the LM scorer —
  with a diversity-collapse column (distinct sources surviving each
  rung), the failure mode perplexity filters are audited for.
- ``retrieval_fusion_gain`` — the ablation the fusion exists for:
  MRR of the lexical arm alone, the dense arm alone, and the fused
  list, under ONE strict relevance label, so the hybrid's gain (or
  loss) over its constituents is a single three-row readout.
- ``gate_agreement_matrix`` — Cohen's kappa between the three
  quality gates (heuristic / trained probe / LM) at an equal 20%
  keep budget over the SHARED scoreable population: the redundancy
  audit that decides whether stacking filters buys anything beyond
  any one of them.

The reference (iangow/ffiec.pq) has no retrieval surface; these extend
the mandated training-data-pipeline layer under the established
certification discipline (strict DuckDB value-hash oracles, shared
rank/fusion arithmetic in integer micros)."""

from __future__ import annotations

import functools
import math
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.functions.lits import double_array
from ffiec_pq_spark.operators.similarity import cosine, dot, ivf_centroid, norm
from ffiec_pq_spark.resident import Memo, tracked_persist
from ffiec_pq_spark.session import dataset_key, load_table

# --------------------------------------------------------------------------
# retrieval_rrf_hybrid

_RRF_K = 60          # the canonical RRF constant (Cormack et al. 2009)
_FUSE_TOPK = 3       # fused list depth (matches the BM25 pass's top-3)
_DENSE_TOPK = 3
_DIM = 64
_N_CELLS = 4
_NPROBE = 2

# Vector contract shared with the probe family (_probe_ctes): NULL and
# EMPTY embeddings carry no features — DuckDB's unnest silently yields
# no rows for them while a zip_with fold would keep them as NULL-cosine
# rows, so BOTH engines exclude them explicitly.  Zero-norm vectors are
# excluded too (their cosine is undefined; a NULL score would sort
# differently under the two engines' default null ordering).
_EMB_PRED = "embedding IS NOT NULL AND len(embedding) > 0"


def _n_cells() -> int:
    """IVF cell count, resolved at CALL time.  At real scale the cell
    count grows ~sqrt(N) so per-cell candidate lists stay constant; the
    scale harness (scripts/scale_check.py) sets FFIEC_PQ_DENSE_CELLS to
    round(4·sqrt(factor)) for its replicated runs so that claim is
    MEASURED, not asserted.  The registered oracle SQL is generated at
    import time under the default (4) — the correctness gate always
    compares both engines at the same default geometry."""
    return max(1, int(os.environ.get("FFIEC_PQ_DENSE_CELLS", _N_CELLS)))


def _dense_ctes(corpus_pred: str = "vec_id % 10 <> 0") -> str:
    """Dense-retrieval CTE chain: IVF cell assignment (argmax over the
    literal coarse centroids, scores rounded to 6 dp BEFORE the rank so
    the argmax is engine-independent), per-query top-2 probe cells,
    candidate generation by cell equi-join, exact cosine re-rank on the
    candidates only.  Vectors violating ``_EMB_PRED`` (or with zero
    norm) are excluded by contract on both engines; every norm product
    still carries a nullif guard.  ``corpus_pred`` parameterizes the
    corpus slice (the unlearn oracle further excludes erased ids)."""
    nc = _n_cells()
    cent_rows = ", ".join(
        f"({j}, {i + 1}, {v!r}::DOUBLE)"
        for j in range(nc)
        for i, v in enumerate(ivf_centroid(_DIM, j))
    )
    return f"""cent AS (SELECT * FROM (VALUES {cent_rows}) AS t(c, i, v)),
    exq AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings WHERE vec_id % 10 = 0 AND {_EMB_PRED}
    ),
    exc AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings WHERE ({corpus_pred}) AND {_EMB_PRED}
    ),
    qcell AS (
      SELECT vec_id AS q_id, c FROM (
        SELECT e.vec_id, c.c,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(sum(e.x * c.v)
                   / nullif(sqrt(sum(e.x * e.x))
                            * sqrt(sum(c.v * c.v)), 0.0), 6)
                   DESC, c.c ASC
               ) AS rn
        FROM exq e JOIN cent c ON e.i = c.i
        GROUP BY e.vec_id, c.c
        HAVING sum(e.x * e.x) > 0
      ) WHERE rn <= {_NPROBE}
    ),
    ccell AS (
      SELECT vec_id AS doc_id, c FROM (
        SELECT e.vec_id, c.c,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(sum(e.x * c.v)
                   / nullif(sqrt(sum(e.x * e.x))
                            * sqrt(sum(c.v * c.v)), 0.0), 6)
                   DESC, c.c ASC
               ) AS rn
        FROM exc e JOIN cent c ON e.i = c.i
        GROUP BY e.vec_id, c.c
        HAVING sum(e.x * e.x) > 0
      ) WHERE rn = 1
    ),
    dense_pair AS (
      SELECT q.q_id, cc.doc_id,
             round(sum(a.x * b.x)
               / nullif(sqrt(sum(a.x * a.x))
                        * sqrt(sum(b.x * b.x)), 0.0), 6) AS cos
      FROM qcell q
      JOIN ccell cc ON cc.c = q.c
      JOIN exq a ON a.vec_id = q.q_id
      JOIN exc b ON b.vec_id = cc.doc_id AND b.i = a.i
      GROUP BY q.q_id, cc.doc_id
    ),
    densek AS (
      SELECT q_id, doc_id, d_rank FROM (
        SELECT q_id, doc_id,
               CAST(row_number() OVER (
                 PARTITION BY q_id ORDER BY cos DESC, doc_id ASC
               ) AS BIGINT) AS d_rank
        FROM dense_pair
      ) WHERE d_rank <= {_DENSE_TOPK}
    )"""


def _hybrid_ctes(
    corpus_where: str = "WHERE doc_id % 10 <> 0",
    dense_pred: str = "vec_id % 10 <> 0",
) -> str:
    """The full fusion CTE chain (lexical list, dense list, RRF merge,
    fused top-k as ``hybrid``) — shared by the fusion query itself,
    every downstream eval that compares the arms, and (with the
    corpus-slice parameters) the unlearn oracle's survivor replay."""
    from ffiec_pq_spark.queries.round12 import _bm25_topk_sql

    return f"""lex AS (
      {_bm25_topk_sql(corpus_where)}
    ),
    {_dense_ctes(dense_pred)},
    fused AS (
      SELECT coalesce(l.q_id, d.q_id) AS q_id,
             coalesce(l.doc_id, d.doc_id) AS doc_id,
             l.rank AS l_rank, d.d_rank AS d_rank
      FROM lex l
      FULL JOIN densek d ON d.q_id = l.q_id AND d.doc_id = l.doc_id
    ),
    rrf AS (
      SELECT q_id, doc_id,
             CAST(coalesce(1000000 // ({_RRF_K} + l_rank), 0)
                + coalesce(1000000 // ({_RRF_K} + d_rank), 0) AS BIGINT)
               AS rrf_micro,
             CAST(CASE WHEN l_rank IS NOT NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS in_lex,
             CAST(CASE WHEN d_rank IS NOT NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS in_dense
      FROM fused
    ),
    hybrid AS (
      SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_micro,
             in_lex, in_dense
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id ASC
        ) AS rank FROM rrf
      )
      WHERE rank <= {_FUSE_TOPK}
    )"""


def _rrf_sql(
    corpus_where: str = "WHERE doc_id % 10 <> 0",
    dense_pred: str = "vec_id % 10 <> 0",
) -> str:
    return f"""
    WITH {_hybrid_ctes(corpus_where, dense_pred)}
    SELECT q_id, rank, doc_id, rrf_micro, in_lex, in_dense FROM hybrid
    """


def _valid_vectors(df):
    """The Spark half of ``_EMB_PRED``: drop NULL/empty embeddings."""
    return df.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )


def _cell_structs(vec, nc):
    """Sorted (rounded cosine-to-centroid, negated cell) structs — the
    argmax/top-nprobe cell assignment as ONE array expression, ties
    breaking to the LOWEST cell index on both engines (hence the
    negated cell in the descending sort)."""
    entries = []
    for j in range(nc):
        cent = double_array(ivf_centroid(_DIM, j))
        entries.append(
            F.struct(
                F.round(cosine(vec, cent), 6).alias("s"),
                F.lit(nc - 1 - j).alias("negc"),
            )
        )
    return F.sort_array(F.array(*entries), asc=False)


def _query_cells(q, nc):
    """(q_id, _qe, _nq, cell): top-``_NPROBE`` probe cells per query
    vector, zero-norm vectors excluded."""
    return (
        q.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("_qe"),
            norm(F.col("embedding")).alias("_nq"),
            F.explode(
                F.slice(_cell_structs(F.col("embedding"), nc), 1, _NPROBE)
            ).alias("_sc"),
        )
        .filter(F.col("_nq") > 0)
        .select(
            "q_id", "_qe", "_nq",
            (F.lit(nc - 1) - F.col("_sc.negc")).alias("cell"),
        )
    )


def _corpus_cells(c, nc):
    """(doc_id, _ce, _nc, cell): single argmax cell per corpus vector,
    zero-norm vectors excluded.  A pure per-row function of the
    embedding — which is what makes the streaming fold's cell rows
    final on arrival (append-only maintenance, no merge)."""
    return c.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("_ce"),
        norm(F.col("embedding")).alias("_nc"),
        (
            F.lit(nc - 1)
            - F.element_at(_cell_structs(F.col("embedding"), nc), 1)["negc"]
        ).alias("cell"),
    ).filter(F.col("_nc") > 0)


def _dense_rank_cells(qcell, ccell):
    """Score + rank candidates against an existing cell assignment —
    shared verbatim by the batch pass (which derives cells from the
    table) and the streaming fold's serve (which reads the RESIDENT
    cell state), so both produce the identical physical plan (the
    ``_bm25_rank_postings`` convention)."""
    pair = ccell.join(F.broadcast(qcell), "cell").select(
        "q_id",
        "doc_id",
        F.round(
            dot(F.col("_qe"), F.col("_ce"))
            / F.nullif(F.col("_nq") * F.col("_nc"), F.lit(0.0)),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    return (
        pair.withColumn("d_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("d_rank") <= _DENSE_TOPK)
        .select("q_id", "doc_id", "d_rank")
    )


# Resident validated-and-cell-assigned vector relations per
# dataset_key(spark, sf_dir) + (n_cells,) — the _gated_frame
# precedent applied to the retrieval family's vector contract: every
# family member used to re-derive the valid slice (NULL/empty/zero-norm
# exclusion), the norms, and the centroid-argmax cells from the parquet
# scan per query; the memo pays that once per session.  Keyed on the
# cell count because the scale harness re-parameterizes the geometry.
# At deployment scale the ccell relation IS a stored cell-partitioned
# table (exactly what the stream fold maintains on disk); the
# localCheckpoint is its test-scale resident stand-in.
_CELL_FRAMES = Memo("cell_frames")


def _cell_frames(spark, sf_dir, nc=None):
    """(qcell, ccell): the validated eval-slice query vectors with
    their top-``_NPROBE`` probe cells and the validated corpus vectors
    with their argmax cell — eagerly checkpointed once per (session,
    dataset, geometry) and shared by the batch dense arm, the fused
    serve, and the erasure path."""
    if nc is None:
        nc = _n_cells()
    return _CELL_FRAMES.get_or_build(
        dataset_key(spark, sf_dir) + (nc,),
        lambda: _cell_frames_build(spark, sf_dir, nc),
    )


def _cell_frames_build(spark, sf_dir, nc):
    # spread BEFORE the checkpoint: localCheckpoint freezes the RDD
    # layout, and a single-file embeddings scan froze ccell at ONE
    # partition — every downstream candidate-join + exact-cosine stage
    # (the dense arm's real work) then ran as one task (round-15
    # profile: 1.23 s single-task stage while 31 cores idled)
    from ffiec_pq_spark.session import spread

    emb = _valid_vectors(spread(load_table(spark, sf_dir, "embeddings")))
    qcell = _query_cells(
        emb.filter(F.col("vec_id") % 10 == 0), nc
    ).localCheckpoint(eager=True)
    ccell = _corpus_cells(
        emb.filter(F.col("vec_id") % 10 != 0), nc
    ).localCheckpoint(eager=True)
    return qcell, ccell


def _dense_topk_frame(spark, sf_dir):
    """IVF-pruned dense top-k: corpus vectors carry their single
    argmax cell, query vectors their top-``_NPROBE`` cells (both from
    one sorted array of (rounded score, cell) structs — no shuffle,
    ties break to the lowest cell on both engines), candidates come
    from a cell equi-join with the QUERY side broadcast (the eval
    slice is the small side; at 100 TB the corpus side's cell id is a
    partition column, so the join prunes to nprobe/n_cells of the
    data), and only candidates pay the exact cosine.  Norms are
    hoisted to one computation per vector before the join (the
    ``_pairs_exact`` precedent — ``dot/(nq*nc)`` IS ``cosine``).

    Vector contract (both engines, the ``_probe_ctes`` precedent):
    NULL/empty embeddings are excluded (DuckDB's unnest drops them
    silently; an unguarded zip_with fold would keep them as phantom
    NULL-cosine rows), zero-norm vectors are excluded (undefined
    cosine), and the norm product carries a nullif guard.  The cell
    count resolves at call time (:func:`_n_cells`) so the scale
    harness can measure the sqrt(N)-cells geometry."""
    qcell, ccell = _cell_frames(spark, sf_dir)
    return _dense_rank_cells(qcell, ccell)


def _rrf_fuse(lex, dense):
    """The fusion step alone: full-outer merge of a lexical list
    ``(q_id, doc_id, rank, ...)`` and a dense list ``(q_id, doc_id,
    d_rank)`` on (q_id, doc_id), RRF mass in exact integer micros
    (``1000000 div (60 + rank)`` — integer division, no floats), fused
    rank per query.  Shared verbatim by the batch fusion and the
    streaming fold's serve (which fuses lists scored from the RESIDENT
    index state)."""
    lex = lex.select("q_id", "doc_id", F.col("rank").alias("l_rank"))
    dense = dense.select("q_id", "doc_id", "d_rank")
    fused = lex.join(dense, ["q_id", "doc_id"], "full_outer")
    rrf_micro = (
        F.coalesce(
            F.expr(f"1000000 div ({_RRF_K} + l_rank)"), F.lit(0)
        )
        + F.coalesce(
            F.expr(f"1000000 div ({_RRF_K} + d_rank)"), F.lit(0)
        )
    ).cast("long")
    scored = fused.select(
        "q_id",
        "doc_id",
        rrf_micro.alias("rrf_micro"),
        F.when(F.col("l_rank").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("in_lex"),
        F.when(F.col("d_rank").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("in_dense"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _FUSE_TOPK)
        .select("q_id", "rank", "doc_id", "rrf_micro", "in_lex", "in_dense")
    )


def _rrf_hybrid_frame(spark, sf_dir, lex=None, dense=None):
    """The batch hybrid pass: build (or accept prebuilt) arm lists and
    fuse them (:func:`_rrf_fuse`).  Callers that ALSO consume an arm
    standalone pass the persisted frame via ``lex``/``dense`` so the
    arm's pass runs once per query, never twice."""
    from ffiec_pq_spark.queries.round12 import _bm25_topk_frame

    if lex is None:
        lex = _bm25_topk_frame(spark, sf_dir)
    if dense is None:
        dense = _dense_topk_frame(spark, sf_dir)
    return _rrf_fuse(lex, dense)


@register(
    "retrieval_rrf_hybrid", _rrf_sql(), tags=["retrieval", "similarity"]
)
def retrieval_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (K=60) of the BM25
    lexical top-3 with an IVF-pruned dense cosine top-3, per
    eval-slice query — the candidate union every production RAG stack
    serves (lexical catches exact-term matches, dense catches
    paraphrases; RRF needs no score calibration between them, only
    ranks).

    Plan: the shared round-12 BM25 inverted-index pass (term
    equi-join, df-cap pruned, never query × corpus) + a dense pass
    whose only pairwise work is cell-join candidates (corpus side one
    argmax cell each, query side nprobe cells, query side BROADCAST;
    at 100 TB the corpus cell id is a partition column and the join
    is partition pruning); fusion itself is a full-outer merge of two
    ≤ k·|queries| relations — all rank arithmetic in exact integer
    micros, both rank windows partitioned by q_id (no global
    windows)."""
    return _rrf_hybrid_frame(spark, sf_dir)


# --------------------------------------------------------------------------
# retrieval_ndcg_eval — graded nDCG@3 over the fused ranking.
#
# Every DCG term is floor(gain / ln(rank+1) * 1e6 + 0.5) with gain in
# {1, 2} and rank in {1, 2, 3} — six values, PRECOMPUTED here as
# Python ints and embedded as literals in BOTH engines, so the whole
# eval (DCG, ideal DCG, their ratio) is exact integer arithmetic.

_NDCG_K = 3
_NDCG_BUCKET = 256  # length-bucket width (chars) for the graded proxy
_G = {
    (g, r): int(math.floor(g / math.log(r + 1) * 1e6 + 0.5))
    for g in (1, 2)
    for r in (1, 2, 3)
}


def _ndcg_sql() -> str:
    g = _G
    dcg_case = f"""CASE
        WHEN gain = 2 THEN CASE rank WHEN 1 THEN {g[(2, 1)]}
                                     WHEN 2 THEN {g[(2, 2)]}
                                     ELSE {g[(2, 3)]} END
        WHEN gain = 1 THEN CASE rank WHEN 1 THEN {g[(1, 1)]}
                                     WHEN 2 THEN {g[(1, 2)]}
                                     ELSE {g[(1, 3)]} END
        ELSE 0 END"""
    idcg_terms = " + ".join(
        f"""CASE WHEN t >= {r} THEN {g[(2, r)]}
             WHEN t + o >= {r} THEN {g[(1, r)]}
             ELSE 0 END"""
        for r in (1, 2, 3)
    )
    return f"""
    WITH topk AS (
      {_rrf_sql()}
    ),
    qdim AS (
      SELECT doc_id AS q_id, source AS q_source, lang AS q_lang,
             n_chars // {_NDCG_BUCKET} AS q_bucket
      FROM documents WHERE doc_id % 10 = 0
    ),
    cdim AS (
      SELECT doc_id, lang AS c_lang,
             n_chars // {_NDCG_BUCKET} AS c_bucket
      FROM documents WHERE doc_id % 10 <> 0
    ),
    gains AS (
      SELECT t.q_id, t.rank,
             CASE WHEN q.q_lang = c.c_lang AND q.q_bucket = c.c_bucket
                  THEN 2
                  WHEN q.q_lang = c.c_lang THEN 1
                  ELSE 0 END AS gain
      FROM topk t
      JOIN qdim q ON q.q_id = t.q_id
      JOIN cdim c ON c.doc_id = t.doc_id
    ),
    dcg AS (
      SELECT q_id, CAST(sum({dcg_case}) AS BIGINT) AS dcg_micro
      FROM gains GROUP BY q_id
    ),
    csl AS (
      SELECT c_lang AS lang, c_bucket AS bucket,
             CAST(count(*) AS BIGINT) AS n_sl
      FROM cdim GROUP BY 1, 2
    ),
    cs AS (
      SELECT c_lang AS lang, CAST(count(*) AS BIGINT) AS n_s
      FROM cdim GROUP BY 1
    ),
    per_q AS (
      SELECT q.q_id, q.q_source,
             coalesce(d.dcg_micro, 0) AS dcg_micro,
             least({_NDCG_K}, coalesce(sl.n_sl, 0)) AS t,
             least({_NDCG_K} - least({_NDCG_K}, coalesce(sl.n_sl, 0)),
                   coalesce(s.n_s, 0) - coalesce(sl.n_sl, 0)) AS o
      FROM qdim q
      LEFT JOIN dcg d ON d.q_id = q.q_id
      LEFT JOIN csl sl ON sl.lang = q.q_lang AND sl.bucket = q.q_bucket
      LEFT JOIN cs s ON s.lang = q.q_lang
    ),
    scored AS (
      SELECT q_id, q_source, dcg_micro,
             CAST({idcg_terms} AS BIGINT) AS idcg_micro
      FROM per_q
    )
    SELECT q_source AS source,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN idcg_micro > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_evaluable,
           CAST(coalesce(sum(CASE WHEN idcg_micro > 0
                  THEN dcg_micro * 1000000 // idcg_micro END), 0)
                AS BIGINT) AS sum_ndcg_micro,
           CAST(sum(CASE WHEN idcg_micro > 0
                  AND dcg_micro * 1000000 // idcg_micro = 1000000
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect
    FROM scored
    GROUP BY q_source
    """


@register(
    "retrieval_ndcg_eval",
    _ndcg_sql(),
    tags=["retrieval", "eval"],
)
def retrieval_ndcg_eval(spark, sf_dir):
    """Graded nDCG@3 of the hybrid (RRF-fused) ranking, per query
    source: relevance 2 = candidate shares the query doc's language
    AND length bucket (``n_chars div 256``), 1 = language only, 0
    otherwise — a deterministic two-level proxy with real coverage on
    both levels (the ``source`` column is pure doc_id arithmetic,
    disjoint between the eval and corpus slices, so a source-based
    grade would be vacuously zero); ideal DCG from COLLECTION-WIDE
    relevant counts (per-(lang, bucket) corpus totals — true nDCG,
    not list-local renormalization).

    Cross-engine exactness: the six possible DCG terms (gain 1-2 ×
    rank 1-3) are precomputed integer literals, ideal DCG is a CASE
    tree over the same six constants, and the per-query ratio is
    integer division — the entire eval is int64 arithmetic; no
    runtime ``ln`` for the engines to disagree on.

    Plan: the fused top-k (≤ 3 rows/query) joins two slim doc-dim
    projections; ideal counts come from one (source, lang) aggregate
    — group count = |sources|×|langs|, broadcast back; the final
    rollup has |sources| groups with map-side partials."""
    topk = _rrf_hybrid_frame(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(f"n_chars div {_NDCG_BUCKET}")
    qdim = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("q_id"),
        F.col("source").alias("q_source"),
        F.col("lang").alias("q_lang"),
        bucket.alias("q_bucket"),
    )
    cdim = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.col("lang").alias("c_lang"),
        bucket.alias("c_bucket"),
    )
    gain = (
        F.when(
            (F.col("q_lang") == F.col("c_lang"))
            & (F.col("q_bucket") == F.col("c_bucket")),
            F.lit(2),
        )
        .when(F.col("q_lang") == F.col("c_lang"), F.lit(1))
        .otherwise(F.lit(0))
    )
    g = _G
    term = (
        F.when(
            F.col("gain") == 2,
            F.when(F.col("rank") == 1, F.lit(g[(2, 1)]))
            .when(F.col("rank") == 2, F.lit(g[(2, 2)]))
            .otherwise(F.lit(g[(2, 3)])),
        )
        .when(
            F.col("gain") == 1,
            F.when(F.col("rank") == 1, F.lit(g[(1, 1)]))
            .when(F.col("rank") == 2, F.lit(g[(1, 2)]))
            .otherwise(F.lit(g[(1, 3)])),
        )
        .otherwise(F.lit(0))
    )
    dcg = (
        topk.join(qdim, "q_id")
        .join(cdim, "doc_id")
        .select("q_id", "rank", gain.alias("gain"))
        .groupBy("q_id")
        .agg(F.sum(term).cast("long").alias("dcg_micro"))
    )
    csl = cdim.groupBy(
        F.col("c_lang").alias("q_lang"), F.col("c_bucket").alias("q_bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_sl"))
    cs = cdim.groupBy(F.col("c_lang").alias("q_lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    t_col = F.least(
        F.lit(_NDCG_K).cast("long"), F.coalesce(F.col("n_sl"), F.lit(0))
    )
    per_q = (
        qdim.join(dcg, "q_id", "left")
        .join(F.broadcast(csl), ["q_lang", "q_bucket"], "left")
        .join(F.broadcast(cs), ["q_lang"], "left")
        .withColumn("dcg_micro", F.coalesce(F.col("dcg_micro"), F.lit(0)))
        .withColumn("t", t_col)
        .withColumn(
            "o",
            F.least(
                F.lit(_NDCG_K) - F.col("t"),
                F.coalesce(F.col("n_s"), F.lit(0))
                - F.coalesce(F.col("n_sl"), F.lit(0)),
            ),
        )
    )
    idcg = sum(
        (
            F.when(F.col("t") >= r, F.lit(g[(2, r)]))
            .when(F.col("t") + F.col("o") >= r, F.lit(g[(1, r)]))
            .otherwise(F.lit(0))
            for r in (1, 2, 3)
        ),
        F.lit(0),
    ).cast("long")
    scored = per_q.withColumn("idcg_micro", idcg).withColumn(
        "ndcg_micro",
        F.when(
            F.col("idcg_micro") > 0,
            F.expr("(dcg_micro * 1000000) div idcg_micro"),
        ),
    )
    return scored.groupBy(F.col("q_source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(
            F.when(F.col("idcg_micro") > 0, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_evaluable"),
        F.coalesce(F.sum("ndcg_micro"), F.lit(0))
        .cast("long")
        .alias("sum_ndcg_micro"),
        F.sum(
            F.when(F.col("ndcg_micro") == 1000000, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).cast("long").alias("n_perfect"),
    )


# --------------------------------------------------------------------------
# kn_gate_calibration — the perplexity-filter threshold ladder.

_KN_GATE_PCTS = (5, 10, 20, 30, 50)


def _kn_gate_sql() -> str:
    from ffiec_pq_spark.queries.round13 import _KN3_SQL

    pcts = ", ".join(str(p) for p in _KN_GATE_PCTS)
    return f"""
    WITH kn AS (
      {_KN3_SQL}
    ),
    ranked AS (
      SELECT doc_id, n_trigrams,
             row_number() OVER (
               ORDER BY avg_kn3_logprob DESC, doc_id ASC
             ) AS rank
      FROM kn
    ),
    nn AS (SELECT count(*) AS n FROM kn),
    rung AS (SELECT unnest(CAST([{pcts}] AS BIGINT[])) AS thr_pct),
    src AS (SELECT doc_id, source FROM documents)
    SELECT thr_pct,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(sum(CASE WHEN kept THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS keep_rate,
           CAST(sum(CASE WHEN kept THEN n_trigrams ELSE 0 END) AS BIGINT)
             AS trigrams_kept,
           CAST(count(DISTINCT CASE WHEN kept THEN source END) AS BIGINT)
             AS n_sources_kept
    FROM (
      SELECT r.thr_pct, ra.n_trigrams, s.source,
             ra.rank <= greatest((nn.n * r.thr_pct) // 100, 1) AS kept
      FROM ranked ra CROSS JOIN rung r CROSS JOIN nn
      JOIN src s ON s.doc_id = ra.doc_id
    )
    GROUP BY thr_pct
    """


@register(
    "kn_gate_calibration",
    _kn_gate_sql(),
    tags=["lm", "quality", "curation"],
)
def kn_gate_calibration(spark, sf_dir):
    """Gate-calibration ladder for the modified-KN trigram perplexity
    filter: at each candidate keep-percentile (top 5/10/20/30/50% by
    mean trigram log-probability — the CCNet-style fluency cut), the
    keep rate, the surviving trigram budget, and the number of
    DISTINCT SOURCES still represented — the diversity-collapse
    signal perplexity filters are audited for (a fluency cut that
    silently drops whole domains is worse than no cut).  Completes
    the calibration family: ``quality_threshold_sweep`` (heuristic),
    ``probe_gate_calibration`` (trained probe), this (LM scorer).

    Ranking is on the already-certified 6 dp-rounded
    ``avg_kn3_logprob`` (ties → doc_id), so rank parity costs nothing
    new; the ladder itself is the shared pattern — ONE
    :func:`distributed_rank` over the scores feeding every rung, a
    5-row literal explode, and a ≤ 5-group final aggregate.  Only
    documents with ≥ 3 tokens score (they are the model's population
    on both engines)."""
    from ffiec_pq_spark.operators.windows import distributed_rank
    from ffiec_pq_spark.queries.round13 import doc_kn_trigram

    scored = doc_kn_trigram(spark, sf_dir)
    ranked = distributed_rank(
        scored,
        [F.col("avg_kn3_logprob").desc(), F.col("doc_id").asc()],
        rank_col="rank",
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("_n"))
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    lad = (
        ranked.crossJoin(F.broadcast(n_tot))
        .join(src, "doc_id")
        .withColumn(
            "thr_pct",
            F.explode(
                F.array(*[F.lit(p).cast("long") for p in _KN_GATE_PCTS])
            ),
        )
        .withColumn(
            "kept",
            # exact integer floor on both engines (the _gated_frame
            # `div` convention — a double divide-then-truncate can
            # disagree with the oracle's `//` once n*pct exceeds the
            # double mantissa)
            F.col("rank")
            <= F.greatest(
                F.expr("(_n * thr_pct) div 100"),
                F.lit(1).cast("long"),
            ),
        )
    )
    kept_l = F.col("kept").cast("long")
    return lad.groupBy("thr_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(kept_l).alias("n_kept"),
        F.round(
            F.sum(kept_l) / F.count(F.lit(1)).cast("double"), 6
        ).alias("keep_rate"),
        F.sum(
            F.when(F.col("kept"), F.col("n_trigrams")).otherwise(F.lit(0))
        ).cast("long").alias("trigrams_kept"),
        F.countDistinct(F.when(F.col("kept"), F.col("source")))
        .cast("long")
        .alias("n_sources_kept"),
    )


# --------------------------------------------------------------------------
# retrieval_fusion_gain — the hybrid ablation: each arm's MRR under
# one strict relevance label, so the fusion's contribution over its
# constituents is a direct three-row comparison.


def _fusion_gain_sql() -> str:
    return f"""
    WITH {_hybrid_ctes()},
    arms AS (
      SELECT 'lex' AS arm, q_id, CAST(rank AS BIGINT) AS rank, doc_id
      FROM lex
      UNION ALL
      SELECT 'dense' AS arm, q_id, d_rank AS rank, doc_id FROM densek
      UNION ALL
      SELECT 'hybrid' AS arm, q_id, rank, doc_id FROM hybrid
    ),
    qdim AS (
      SELECT doc_id AS q_id, lang AS q_lang,
             n_chars // {_NDCG_BUCKET} AS q_bucket
      FROM documents WHERE doc_id % 10 = 0
    ),
    cdim AS (
      SELECT doc_id, lang AS c_lang, n_chars // {_NDCG_BUCKET} AS c_bucket
      FROM documents WHERE doc_id % 10 <> 0
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
    armlist AS (SELECT unnest(['dense', 'hybrid', 'lex']) AS arm)
    SELECT al.arm,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN fr.first_rel IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(coalesce(sum(1000000 // fr.first_rel), 0) AS BIGINT)
             AS sum_rr_micro
    FROM qdim q CROSS JOIN armlist al
    LEFT JOIN firstrel fr ON fr.arm = al.arm AND fr.q_id = q.q_id
    GROUP BY al.arm
    """


@register(
    "retrieval_fusion_gain",
    _fusion_gain_sql(),
    tags=["retrieval", "eval"],
)
def retrieval_fusion_gain(spark, sf_dir):
    """The fusion ablation: MRR@3 (integer-micro reciprocal-rank
    mass, ``1000000 div first_relevant_rank``) of the lexical arm,
    the dense arm, and the RRF-fused list, all under the STRICT
    relevance level of the nDCG eval (candidate shares the query
    doc's language AND length bucket) — the single readout that says
    whether fusing bought recall over the better constituent or just
    averaged two orderings.  Every eval-slice query counts in
    ``n_queries`` for every arm (left join), so arms are compared on
    one denominator.

    Plan: the two constituent lists and the fused list are the
    already-pinned passes (BM25 inverted-index term equi-join; dense
    cell equi-join with the query side broadcast; fusion full-outer
    merge of two ≤ k·|queries| relations); each arm is built ONCE and
    persisted — the standalone-arm rows and the fusion both read the
    same ≤ k·|queries| cached relation, so neither the BM25 nor the
    dense pass ever runs twice in one query; the arms union is
    by-name, the label join touches two slim doc-dim projections,
    and the rollup is 3 groups with map-side partials."""
    from ffiec_pq_spark.queries.round12 import _bm25_topk_frame

    lex_list = tracked_persist(_bm25_topk_frame(spark, sf_dir))
    dense_list = tracked_persist(_dense_topk_frame(spark, sf_dir))
    lex = lex_list.select(
        F.lit("lex").alias("arm"),
        "q_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
    )
    dense = dense_list.select(
        F.lit("dense").alias("arm"),
        "q_id",
        F.col("d_rank").alias("rank"),
        "doc_id",
    )
    hyb = _rrf_hybrid_frame(
        spark, sf_dir, lex=lex_list, dense=dense_list
    ).select(F.lit("hybrid").alias("arm"), "q_id", "rank", "doc_id")
    arms = lex.unionByName(dense).unionByName(hyb)
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
    firstrel = (
        arms.join(qdim, "q_id")
        .join(cdim, "doc_id")
        .groupBy("arm", "q_id")
        .agg(F.min(F.when(rel, F.col("rank"))).alias("first_rel"))
    )
    base = qdim.select("q_id").withColumn(
        "arm",
        F.explode(F.array(F.lit("dense"), F.lit("hybrid"), F.lit("lex"))),
    )
    return (
        base.join(firstrel, ["arm", "q_id"], "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(
                F.when(F.col("first_rel").isNotNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("n_hits"),
            F.coalesce(F.sum(F.expr("1000000 div first_rel")), F.lit(0))
            .cast("long")
            .alias("sum_rr_micro"),
        )
    )


# --------------------------------------------------------------------------
# gate_agreement_matrix — pairwise Cohen's kappa between the three
# quality gates at one keep budget over the shared population.

_AGREE_PCT = 20


def _pop_ctes() -> list:
    """The shared scoreable-population CTE chain (through ``pop``:
    doc_id, quality, margin_micro, avg_kn3_logprob) — the sub-chain
    the gate construction AND the ensemble trainer build on, so every
    consumer scores the identical population."""
    from ffiec_pq_spark.operators.text import quality_score_sql
    from ffiec_pq_spark.queries.round12b import _probe_ctes
    from ffiec_pq_spark.queries.round13 import _KN3_SQL

    ctes, last = _probe_ctes()
    ctes.append(
        f"""pmarg AS (
      SELECT ex.vec_id, CAST(sum(ex.xq * w.v) AS BIGINT) AS margin_micro
      FROM ex JOIN {last} w USING (i)
      GROUP BY ex.vec_id
    )"""
    )
    ctes.append(f"knd AS ({_KN3_SQL})")
    ctes.append(
        f"""hq AS (
      SELECT doc_id, {quality_score_sql()} AS quality FROM documents
    )"""
    )
    ctes.append(
        """pop AS (
      SELECT h.doc_id, h.quality, p.margin_micro, k.avg_kn3_logprob
      FROM hq h JOIN pmarg p ON p.vec_id = h.doc_id
                JOIN knd k ON k.doc_id = h.doc_id
    )"""
    )
    return ctes


def _gate_ctes() -> list:
    """The shared gate construction (CTE list through ``gates``):
    shared scoreable population, equal 20% budget, three total-order
    ranks, one boolean per gate per doc — used by the agreement
    matrix and the stack-yield audit so the two views can never
    disagree on what a 'gate' is."""
    ctes = _pop_ctes()
    ctes.append(
        f"""popn AS (
      SELECT CAST(greatest((count(*) * {_AGREE_PCT}) // 100, 1)
                  AS BIGINT) AS kb
      FROM pop
    )"""
    )
    for nm, key in (
        ("rh", "quality"),
        ("rp", "margin_micro"),
        ("rk", "avg_kn3_logprob"),
    ):
        ctes.append(
            f"""{nm} AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY {key} DESC, doc_id ASC) AS r
      FROM pop
    )"""
        )
    ctes.append(
        """gates AS (
      SELECT p.doc_id, rh.r <= popn.kb AS g_h, rp.r <= popn.kb AS g_p,
             rk.r <= popn.kb AS g_k
      FROM pop p JOIN rh ON rh.doc_id = p.doc_id
                 JOIN rp ON rp.doc_id = p.doc_id
                 JOIN rk ON rk.doc_id = p.doc_id
      CROSS JOIN popn
    )"""
    )
    return ctes


def _agree_sql() -> str:
    ctes = _gate_ctes()
    ctes.append(
        """prs AS (
      SELECT 'heuristic~probe' AS pair, g_h AS a, g_p AS b FROM gates
      UNION ALL
      SELECT 'heuristic~kn' AS pair, g_h AS a, g_k AS b FROM gates
      UNION ALL
      SELECT 'probe~kn' AS pair, g_p AS a, g_k AS b FROM gates
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT pair, n, n_kept, n_both_kept, n_both_dropped, n_disagree,
           CASE WHEN n_kept = 0 OR n_kept = n THEN NULL
                ELSE round(
                  ((n_both_kept + n_both_dropped) / CAST(n AS DOUBLE)
                   - (CAST(n_kept AS DOUBLE) * n_kept
                      + CAST(n - n_kept AS DOUBLE) * (n - n_kept))
                     / (CAST(n AS DOUBLE) * n))
                  / (1.0 - (CAST(n_kept AS DOUBLE) * n_kept
                            + CAST(n - n_kept AS DOUBLE) * (n - n_kept))
                       / (CAST(n AS DOUBLE) * n)), 6)
           END AS kappa
    FROM (
      SELECT pair,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both_kept,
             CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_both_dropped,
             CAST(sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_disagree
      FROM prs GROUP BY pair
    )
    """
    )


# ONE gated relation per (session, dataset) — the _KN3_SCORES
# convention: the gate construction (probe scoring + the resident KN
# pass + three distributed ranks) runs once, and every consumer (the
# agreement matrix, the stack-yield audit, the ensemble trainer) reads
# the eagerly-checkpointed (doc_id, scores, gate booleans) relation.
# Memoizing the FINAL frame also bounds the per-call persist the
# builders previously leaked (each invocation cached a fresh copy of
# the population and relied on executor LRU eviction).
_GATED_FRAMES = Memo("gated_frames")


def _gated_frame_build(spark, sf_dir):
    """The LAZY gate construction (plan-pinned in tests/test_plans.py):
    one persisted population, three :func:`distributed_rank` passes, a
    1-row budget broadcast.  Returns ``(pop, frame)`` so the memoizing
    wrapper can unpersist the population once the frame is
    checkpointed."""
    from ffiec_pq_spark.operators.linear_probe import probe_margins
    from ffiec_pq_spark.operators.text import quality_score_tok, tokens
    from ffiec_pq_spark.operators.windows import distributed_rank
    from ffiec_pq_spark.queries.round12b import probe_corpus, probe_weights
    from ffiec_pq_spark.queries.round13 import doc_kn_trigram

    docs = load_table(spark, sf_dir, "documents")
    hq = docs.select(
        "doc_id", quality_score_tok(tokens("text"), "text").alias("quality")
    )
    emb = probe_corpus(spark, sf_dir)
    y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
    pm = probe_margins(
        emb.withColumn("_yy", y), "embedding", "vec_id", "_yy",
        probe_weights(spark, sf_dir),
    ).select(F.col("vec_id").alias("doc_id"), "margin_micro")
    kn = doc_kn_trigram(spark, sf_dir).select("doc_id", "avg_kn3_logprob")
    pop = hq.join(pm, "doc_id").join(kn, "doc_id").persist()
    popn = pop.agg(F.count(F.lit(1)).cast("long").alias("_n")).select(
        F.greatest(
            F.expr(f"(_n * {_AGREE_PCT}) div 100"), F.lit(1).cast("long")
        ).alias("kb")
    )
    ranks = []
    for rc, key in (
        ("r_h", "quality"),
        ("r_p", "margin_micro"),
        ("r_k", "avg_kn3_logprob"),
    ):
        ranks.append(
            distributed_rank(
                pop.select("doc_id", key),
                [F.col(key).desc(), F.col("doc_id").asc()],
                rank_col=rc,
            ).select("doc_id", rc)
        )
    out = (
        pop
        .join(ranks[0], "doc_id")
        .join(ranks[1], "doc_id")
        .join(ranks[2], "doc_id")
        .crossJoin(F.broadcast(popn))
        .select(
            "doc_id",
            "quality",
            "margin_micro",
            "avg_kn3_logprob",
            (F.col("r_h") <= F.col("kb")).alias("g_h"),
            (F.col("r_p") <= F.col("kb")).alias("g_p"),
            (F.col("r_k") <= F.col("kb")).alias("g_k"),
        )
    )
    return pop, out


def _gated_frame(spark, sf_dir):
    """The shared Spark-side gate construction: (doc_id, quality,
    margin_micro, avg_kn3_logprob, g_h, g_p, g_k) over the shared
    scoreable population.  Mirrors :func:`_gate_ctes` exactly; used by
    the agreement matrix, the stack-yield audit, and the ensemble
    trainer.  RESIDENT per (session, dataset) — the ``_KN3_SCORES``
    convention: the construction runs once and is eagerly
    checkpointed, the intermediate population is unpersisted
    immediately after, and every consumer reads the cached relation
    (so repeated calls no longer accumulate per-call persists)."""

    def build():
        pop, built = _gated_frame_build(spark, sf_dir)
        out = built.localCheckpoint(eager=True)
        pop.unpersist()
        return out

    return _GATED_FRAMES.get_or_build(dataset_key(spark, sf_dir), build)


@register(
    "gate_agreement_matrix",
    _agree_sql(),
    tags=["quality", "curation", "eval"],
)
def gate_agreement_matrix(spark, sf_dir):
    """Pairwise Cohen's kappa between the three quality gates —
    heuristic score, trained linear probe, and modified-KN trigram
    LM — each keeping its top 20% of the SHARED scoreable population
    (documents that have a quality score, a non-empty embedding, and
    ≥ 3 tokens), ties broken by doc_id.  Equal budgets make the
    marginals identical, so kappa reduces to how far the overlap
    exceeds the hypergeometric chance overlap: the redundancy audit
    that decides whether stacking a second filter buys independent
    signal (kappa ≈ 0) or re-applies the first one (kappa ≈ 1).

    Cross-engine exactness: all three scores are already engine-exact
    (6 dp-rounded heuristic, integer probe margin, 6 dp-rounded KN
    log-prob), every rank is a total order with a doc_id tiebreak,
    and the confusion counts are integers; kappa itself is one double
    expression over those integers, rounded to 6 dp identically in
    both engines.

    Plan: the shared population is built once and persisted (the KN
    scoring pass is the expensive input; it must not re-run per
    rank); THREE :func:`distributed_rank` passes — one per score,
    never a single-partition window — join back on doc_id; the
    budget is a 1-row broadcast; the pair explode is a 3-literal
    array; the final aggregate has 3 groups with map-side
    partials."""
    prs = _gated_frame(spark, sf_dir).select("g_h", "g_p", "g_k").select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("heuristic~probe").alias("pair"),
                    F.col("g_h").alias("a"),
                    F.col("g_p").alias("b"),
                ),
                F.struct(
                    F.lit("heuristic~kn").alias("pair"),
                    F.col("g_h").alias("a"),
                    F.col("g_k").alias("b"),
                ),
                F.struct(
                    F.lit("probe~kn").alias("pair"),
                    F.col("g_p").alias("a"),
                    F.col("g_k").alias("b"),
                ),
            )
        ).alias("pr")
    ).select("pr.pair", "pr.a", "pr.b")
    g = prs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a").cast("long")).cast("long").alias("n_kept"),
        F.sum((F.col("a") & F.col("b")).cast("long"))
        .cast("long")
        .alias("n_both_kept"),
        F.sum((~F.col("a") & ~F.col("b")).cast("long"))
        .cast("long")
        .alias("n_both_dropped"),
        F.sum((F.col("a") != F.col("b")).cast("long"))
        .cast("long")
        .alias("n_disagree"),
    )
    n_d = F.col("n").cast("double")
    k_d = F.col("n_kept").cast("double")
    nk = F.col("n") - F.col("n_kept")
    pe = (k_d * F.col("n_kept") + nk.cast("double") * nk) / (n_d * F.col("n"))
    po = (F.col("n_both_kept") + F.col("n_both_dropped")) / n_d
    return g.select(
        "pair",
        "n",
        "n_kept",
        "n_both_kept",
        "n_both_dropped",
        "n_disagree",
        F.when(
            (F.col("n_kept") == 0) | (F.col("n_kept") == F.col("n")),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
        .alias("kappa"),
    )


# --------------------------------------------------------------------------
# retrieval_recall_eval — per-arm recall@k, completing the eval triad
# (MRR = first-hit quality, nDCG = graded ordering quality, recall =
# coverage of the relevant set).


def _recall_eval_sql() -> str:
    return f"""
    WITH {_hybrid_ctes()},
    arms AS (
      SELECT 'lex' AS arm, q_id, doc_id FROM lex
      UNION ALL
      SELECT 'dense' AS arm, q_id, doc_id FROM densek
      UNION ALL
      SELECT 'hybrid' AS arm, q_id, doc_id FROM hybrid
    ),
    qdim AS (
      SELECT doc_id AS q_id, lang AS q_lang,
             n_chars // {_NDCG_BUCKET} AS q_bucket
      FROM documents WHERE doc_id % 10 = 0
    ),
    cdim AS (
      SELECT doc_id, lang AS c_lang, n_chars // {_NDCG_BUCKET} AS c_bucket
      FROM documents WHERE doc_id % 10 <> 0
    ),
    hits AS (
      SELECT a.arm, a.q_id, CAST(count(*) AS BIGINT) AS n_found
      FROM arms a
      JOIN qdim q ON q.q_id = a.q_id
      JOIN cdim c ON c.doc_id = a.doc_id
      WHERE q.q_lang = c.c_lang AND q.q_bucket = c.c_bucket
      GROUP BY 1, 2
    ),
    csl AS (
      SELECT c_lang, c_bucket, CAST(count(*) AS BIGINT) AS n_sl
      FROM cdim GROUP BY 1, 2
    ),
    armlist AS (SELECT unnest(['dense', 'hybrid', 'lex']) AS arm)
    SELECT al.arm,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN coalesce(sl.n_sl, 0) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_evaluable,
           CAST(coalesce(sum(CASE WHEN sl.n_sl > 0
                  THEN coalesce(h.n_found, 0) * 1000000
                       // least({_FUSE_TOPK}, sl.n_sl) END), 0)
                AS BIGINT) AS sum_recall_micro
    FROM qdim q CROSS JOIN armlist al
    LEFT JOIN csl sl ON sl.c_lang = q.q_lang AND sl.c_bucket = q.q_bucket
    LEFT JOIN hits h ON h.arm = al.arm AND h.q_id = q.q_id
    GROUP BY al.arm
    """


@register(
    "retrieval_recall_eval",
    _recall_eval_sql(),
    tags=["retrieval", "eval"],
)
def retrieval_recall_eval(spark, sf_dir):
    """Recall@3 per retrieval arm under the strict relevance label:
    per query, the fraction of the ACHIEVABLE relevant set the arm's
    top-3 covered (``found / min(3, |relevant|)`` in exact integer
    micros), rolled up per arm on one shared denominator with
    evaluability counts.  Completes the eval triad — MRR
    (``retrieval_fusion_gain``) grades the first hit, nDCG
    (``retrieval_ndcg_eval``) the graded ordering, recall the
    coverage — the three curves a retrieval change is actually
    reviewed on.

    Plan: each constituent list pass runs ONCE and is persisted (the
    standalone-arm rows and the fused list read the same cached
    ≤ k·|queries| relation); the arms union by name; the hit count
    is one label join + a (arm, q) aggregate; the achievable-set
    sizes come from one (lang, bucket) corpus aggregate broadcast
    back; the rollup is 3 groups with map-side partials."""
    from ffiec_pq_spark.queries.round12 import _bm25_topk_frame

    lex_list = tracked_persist(_bm25_topk_frame(spark, sf_dir))
    dense_list = tracked_persist(_dense_topk_frame(spark, sf_dir))
    lex = lex_list.select(F.lit("lex").alias("arm"), "q_id", "doc_id")
    dense = dense_list.select(
        F.lit("dense").alias("arm"), "q_id", "doc_id"
    )
    hyb = _rrf_hybrid_frame(
        spark, sf_dir, lex=lex_list, dense=dense_list
    ).select(F.lit("hybrid").alias("arm"), "q_id", "doc_id")
    arms = lex.unionByName(dense).unionByName(hyb)
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
    hits = (
        arms.join(qdim, "q_id")
        .join(cdim, "doc_id")
        .filter(
            (F.col("q_lang") == F.col("c_lang"))
            & (F.col("q_bucket") == F.col("c_bucket"))
        )
        .groupBy("arm", "q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    )
    csl = cdim.groupBy(
        F.col("c_lang").alias("q_lang"), F.col("c_bucket").alias("q_bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_sl"))
    base = qdim.withColumn(
        "arm",
        F.explode(F.array(F.lit("dense"), F.lit("hybrid"), F.lit("lex"))),
    )
    lad = base.join(F.broadcast(csl), ["q_lang", "q_bucket"], "left").join(
        hits, ["arm", "q_id"], "left"
    )
    rec_micro = F.when(
        F.col("n_sl") > 0,
        F.expr(
            f"(coalesce(n_found, 0) * 1000000)"
            f" div least({_FUSE_TOPK}, n_sl)"
        ),
    )
    return lad.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(
            F.when(F.coalesce(F.col("n_sl"), F.lit(0)) > 0, F.lit(1))
            .otherwise(F.lit(0))
        ).cast("long").alias("n_evaluable"),
        F.coalesce(F.sum(rec_micro), F.lit(0))
        .cast("long")
        .alias("sum_recall_micro"),
    )


# --------------------------------------------------------------------------
# gate_stack_yield — what stacking the gates actually buys: keep rate
# and surviving token budget for each single gate, each pairwise
# intersection, the triple intersection, and the union.

_STACK_COMBOS = (
    ("heuristic", ("g_h",)),
    ("probe", ("g_p",)),
    ("kn", ("g_k",)),
    ("heuristic&probe", ("g_h", "g_p")),
    ("heuristic&kn", ("g_h", "g_k")),
    ("probe&kn", ("g_p", "g_k")),
    ("all3", ("g_h", "g_p", "g_k")),
)


def _stack_sql() -> str:
    ctes = _gate_ctes()
    tok = r"len(string_split_regex(trim(text), '\s+'))"
    ctes.append(
        f"""gt AS (
      SELECT g.doc_id, g.g_h, g.g_p, g.g_k, {tok} AS n_tok
      FROM gates g JOIN documents d ON d.doc_id = g.doc_id
    )"""
    )
    # ONE scan of gt: DuckDB zips parallel unnests of equal length, so
    # the 8 combos expand row-wise without re-referencing the CTE (a
    # UNION ALL of 8 arms inlined the whole gate chain 8 times —
    # measured 318 s vs ~40 s for the agreement oracle)
    names = ", ".join(
        f"'{name}'" for name, _ in _STACK_COMBOS
    ) + ", 'any'"
    flags = ", ".join(
        "(" + " AND ".join(cols) + ")" for _, cols in _STACK_COMBOS
    ) + ", (g_h OR g_p OR g_k)"
    ctes.append(
        f"""combos AS (
      SELECT unnest([{names}]) AS combo,
             unnest([{flags}]) AS kept,
             n_tok
      FROM gt
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT combo,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(sum(CASE WHEN kept THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS keep_rate,
           CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_kept
    FROM combos GROUP BY combo
    """
    )


@register(
    "gate_stack_yield",
    _stack_sql(),
    tags=["quality", "curation", "eval"],
)
def gate_stack_yield(spark, sf_dir):
    """What stacking the three quality gates actually buys: for each
    single gate, each pairwise intersection, the triple intersection,
    and the union — the keep rate and the surviving TOKEN budget over
    the shared scoreable population.  This is the decision view the
    agreement matrix (``gate_agreement_matrix``) sets up: near-zero
    kappa predicts the intersection keep rate ≈ the product of the
    budgets (independent filters genuinely compound), kappa ≈ 1
    predicts intersections that keep ≈ one budget (a stacked filter
    that buys nothing).  Token yield is the number the training-mix
    planner consumes downstream.

    Plan: the shared gate construction (:func:`_gated_frame` — one
    persisted population, three distributed ranks, 1-row budget
    broadcast) joins the per-doc token counts by hash join, the
    8-combo explode is a literal array (repetition counted per
    combo, no data growth beyond ×8 slim booleans), and the rollup
    has 8 groups with map-side partials."""
    from ffiec_pq_spark.operators.text import token_count

    gated = _gated_frame(spark, sf_dir)
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tok")
    )
    gt = gated.join(tok, "doc_id")
    entries = [
        F.struct(
            F.lit(name).alias("combo"),
            functools.reduce(
                lambda a, b: a & b, [F.col(c) for c in cols]
            ).alias("kept"),
        )
        for name, cols in _STACK_COMBOS
    ]
    entries.append(
        F.struct(
            F.lit("any").alias("combo"),
            (F.col("g_h") | F.col("g_p") | F.col("g_k")).alias("kept"),
        )
    )
    lad = gt.select(
        "n_tok", F.explode(F.array(*entries)).alias("c")
    ).select("n_tok", "c.combo", "c.kept")
    kept_l = F.col("kept").cast("long")
    return lad.groupBy("combo").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(kept_l).alias("n_kept"),
        F.round(
            F.sum(kept_l) / F.count(F.lit(1)).cast("double"), 6
        ).alias("keep_rate"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
    )
