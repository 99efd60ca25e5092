"""Round-13 queries: interpolated MODIFIED Kneser-Ney trigram scoring
(Chen & Goodman 1999 — the estimator KenLM-style / CCNet perplexity
filters actually ship) and the trained-probe gate-calibration ladder.

The reference (iangow/ffiec.pq) has no LM / ML surface; these extend
the mandated training-data-pipeline layer with the established
certification discipline: DuckDB oracles replaying the identical
recursion, duplicate-collapse proofs via naive-replay oracles, and
per-row float expressions built as IDENTICAL trees on both engines so
every pre-``ln`` double is bit-identical."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.resident import Memo
from ffiec_pq_spark.session import dataset_key, load_table

# --------------------------------------------------------------------------
# doc_kn_trigram — interpolated modified Kneser-Ney trigrams.
#
# Three discounts per level (Chen & Goodman 1999 eq. 26, the "modified"
# refinement of Kneser-Ney's single absolute discount):
#
#   Y  = n1 / (n1 + 2 n2)
#   D1 = 1 − 2 Y (n2 / n1),  D2 = 2 − 3 Y (n3 / n2),  D3+ = 3 − 4 Y (n4 / n3)
#
# estimated from the count-of-counts n_k (#types with count k) of the
# level's own counts: raw weighted trigram counts at the top, trigram
# CONTINUATION counts (distinct-left-context counts) at the middle
# level.  The lowest order is the continuation-unigram distribution
# P0(w3) = N1+(·w3) / N1+(··).
#
#   P(w3|w1 w2) = (c3 − D(c3))/c(w1 w2 ·)
#                 + γ(w1 w2) · [ (nc − D'(nc))/N1+(· w2 ·)
#                                + γ'(w2) · P0(w3) ]
#
# with γ = (D1·N1 + D2·N2 + D3+·N3+)/c(w1 w2 ·) (and analogously γ').
# The interpolated form sums to exactly 1 over the vocabulary
# (pinned in tests/test_round13.py).


def _kn3_counts_sql(corpus: str = "documents") -> str:
    """Shared estimation CTE chain over the NAIVE full corpus (the
    oracle replays every copy; the Spark side estimates on distinct
    content with copy-count weights — certification proves the
    collapse, the ``doc_kneser_ney_bigram`` precedent)."""
    return rf"""tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM {corpus}
    ),
    tg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
      FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)
    ),
    c3 AS (
      SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3
    ),
    coc AS (
      SELECT CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM c3
    ),
    disc0 AS (
      SELECT n1, n2, n3, n4,
             CASE WHEN n1 + 2 * n2 = 0 THEN 0.0
                  ELSE CAST(n1 AS DOUBLE) / (n1 + 2 * n2) END AS y
      FROM coc
    ),
    disc AS (
      SELECT
        least(greatest(CASE WHEN n1 = 0 THEN 0.0
             ELSE 1.0 - 2.0 * y * (CAST(n2 AS DOUBLE) / n1) END,
             0.0), 1.0) AS d1,
        least(greatest(CASE WHEN n2 = 0 THEN 0.0
             ELSE 2.0 - 3.0 * y * (CAST(n3 AS DOUBLE) / n2) END,
             0.0), 2.0) AS d2,
        least(greatest(CASE WHEN n3 = 0 THEN 0.0
             ELSE 3.0 - 4.0 * y * (CAST(n4 AS DOUBLE) / n3) END,
             0.0), 3.0) AS d3
      FROM disc0
    ),
    ctx2 AS (
      SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS cc,
             CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
             CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
             CAST(sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nn3
      FROM c3 GROUP BY 1, 2
    ),
    nc AS (
      SELECT w2, w3, count(*) AS nc FROM c3 GROUP BY 1, 2
    ),
    mcoc AS (
      SELECT CAST(sum(CASE WHEN nc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN nc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN nc = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN nc = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM nc
    ),
    mdisc0 AS (
      SELECT n1, n2, n3, n4,
             CASE WHEN n1 + 2 * n2 = 0 THEN 0.0
                  ELSE CAST(n1 AS DOUBLE) / (n1 + 2 * n2) END AS y
      FROM mcoc
    ),
    mdisc AS (
      SELECT
        least(greatest(CASE WHEN n1 = 0 THEN 0.0
             ELSE 1.0 - 2.0 * y * (CAST(n2 AS DOUBLE) / n1) END,
             0.0), 1.0) AS e1,
        least(greatest(CASE WHEN n2 = 0 THEN 0.0
             ELSE 2.0 - 3.0 * y * (CAST(n3 AS DOUBLE) / n2) END,
             0.0), 2.0) AS e2,
        least(greatest(CASE WHEN n3 = 0 THEN 0.0
             ELSE 3.0 - 4.0 * y * (CAST(n4 AS DOUBLE) / n3) END,
             0.0), 3.0) AS e3
      FROM mdisc0
    ),
    ctx1 AS (
      SELECT w2, CAST(sum(nc) AS BIGINT) AS tc,
             CAST(sum(CASE WHEN nc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS mm1,
             CAST(sum(CASE WHEN nc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS mm2,
             CAST(sum(CASE WHEN nc >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS mm3
      FROM nc GROUP BY 1
    ),
    nu AS (SELECT w3, count(*) AS nu FROM nc GROUP BY 1),
    uu AS (SELECT count(*) AS uu FROM nc)"""


_KN3_P_SQL = """
    ((c3 - CASE WHEN c3 = 1 THEN d1 WHEN c3 = 2 THEN d2 ELSE d3 END) / cc)
    + ((d1 * nn1 + d2 * nn2 + d3 * nn3) / cc)
      * (((nc - CASE WHEN nc = 1 THEN e1 WHEN nc = 2 THEN e2 ELSE e3 END)
          / tc)
         + ((e1 * mm1 + e2 * mm2 + e3 * mm3) / tc)
           * (CAST(nu AS DOUBLE) / uu))
"""

_KN3_SQL = f"""
    WITH {_kn3_counts_sql()}
    SELECT doc_id,
           count(*) AS n_trigrams,
           round(avg(ln({_KN3_P_SQL})), 6) AS avg_kn3_logprob
    FROM tg JOIN c3 USING (w1, w2, w3) JOIN ctx2 USING (w1, w2)
        JOIN nc USING (w2, w3) JOIN ctx1 USING (w2) JOIN nu USING (w3)
        CROSS JOIN disc CROSS JOIN mdisc CROSS JOIN uu
    GROUP BY doc_id
    """


def _mkn_discounts(n1: int, n2: int, n3: int, n4: int) -> tuple:
    """(D1, D2, D3+) from count-of-counts — Python floats whose op
    sequence mirrors the oracle's SQL doubles EXACTLY (same guards,
    same association), so both engines hold bit-identical discounts.

    Each D_k is clamped into [0, k] (``least(greatest(·,0),k)`` on the
    oracle side): the Chen-Goodman closed form assumes roughly
    monotone count-of-counts, and on corpora where n3 > n2 (heavy
    repetition at higher counts) the raw estimate goes negative —
    which would make the backoff mass negative and some probabilities
    < 0 (ln explodes).  The interpolated sum-to-1 identity holds for
    ANY clamped D, and within-range corpora are untouched."""
    y = float(n1) / (n1 + 2 * n2) if (n1 + 2 * n2) > 0 else 0.0
    d1 = 1.0 - 2.0 * y * (float(n2) / n1) if n1 > 0 else 0.0
    d2 = 2.0 - 3.0 * y * (float(n3) / n2) if n2 > 0 else 0.0
    d3 = 3.0 - 4.0 * y * (float(n4) / n3) if n3 > 0 else 0.0
    return (
        min(max(d1, 0.0), 1.0),
        min(max(d2, 0.0), 2.0),
        min(max(d3, 0.0), 3.0),
    )


def _coc_row(df, col: str) -> tuple:
    """Count-of-counts (n1..n4) of an integer count column — the ONLY
    driver-side collect in the trainer (one 4-int row, the sanctioned
    small-state pattern)."""
    r = df.agg(
        *[
            F.sum(
                F.when(F.col(col) == k, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias(f"n{k}")
            for k in (1, 2, 3, 4)
        ]
    ).collect()[0]
    return tuple(int(r[f"n{k}"] or 0) for k in (1, 2, 3, 4))


def _kn3_model(spark, sf_dir):
    """Estimation on DISTINCT content with copy-count weights (the
    duplicate collapse of ``doc_kneser_ney_bigram``: weighted rep
    counts equal naive corpus counts exactly; continuation counts are
    distinct-type counts, duplication-invariant by definition).

    Returns the scoring relations + the collapsed groups + the scalar
    discounts; shared by the registry query and the sum-to-1 test."""
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
    # trigrams array-side: three aligned slices folded by nested
    # zip_with (no posexplode self-joins); greatest() guards docs with
    # < 3 tokens (slice would reject a negative length)
    tg = (
        rep_docs.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_t")
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with("
                    "  zip_with(slice(_t, 1, greatest(size(_t) - 2, 0)),"
                    "           slice(_t, 2, greatest(size(_t) - 2, 0)),"
                    "           (a, b) -> struct(a AS w1, b AS w2)),"
                    "  slice(_t, 3, greatest(size(_t) - 2, 0)),"
                    "  (ab, c) -> struct(ab.w1 AS w1, ab.w2 AS w2, c AS w3))"
                )
            ).alias("_tg"),
        )
        .select("doc_id", "_tg.w1", "_tg.w2", "_tg.w3")
        .join(g_of, "doc_id")
    )
    bucket = lambda col, k, cmp: F.sum(  # noqa: E731
        F.when(cmp(F.col(col), k), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    c3 = (
        tg.groupBy("w1", "w2", "w3")
        .agg(F.sum("g").cast("long").alias("c3"))
        .persist()
    )
    d1, d2, d3 = _mkn_discounts(*_coc_row(c3, "c3"))
    ctx2 = c3.groupBy("w1", "w2").agg(
        F.sum("c3").cast("long").alias("cc"),
        bucket("c3", 1, lambda c, k: c == k).alias("nn1"),
        bucket("c3", 2, lambda c, k: c == k).alias("nn2"),
        bucket("c3", 3, lambda c, k: c >= k).alias("nn3"),
    )
    nc = (
        c3.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("nc")).persist()
    )
    e1, e2, e3 = _mkn_discounts(*_coc_row(nc, "nc"))
    ctx1 = nc.groupBy("w2").agg(
        F.sum("nc").cast("long").alias("tc"),
        bucket("nc", 1, lambda c, k: c == k).alias("mm1"),
        bucket("nc", 2, lambda c, k: c == k).alias("mm2"),
        bucket("nc", 3, lambda c, k: c >= k).alias("mm3"),
    )
    nu = nc.groupBy("w3").agg(F.count(F.lit(1)).alias("nu"))
    uu = nc.count()
    return {
        "groups": groups, "tg": tg, "c3": c3, "ctx2": ctx2, "nc": nc,
        "ctx1": ctx1, "nu": nu, "uu": uu,
        "d": (d1, d2, d3), "e": (e1, e2, e3),
    }


def _kn3_p_col(m) -> F.Column:
    """The per-trigram probability as the SAME expression tree as the
    oracle's ``_KN3_P_SQL`` (every pre-ln double bit-identical)."""
    d1, d2, d3 = m["d"]
    e1, e2, e3 = m["e"]
    d_top = (
        F.when(F.col("c3") == 1, F.lit(d1))
        .when(F.col("c3") == 2, F.lit(d2))
        .otherwise(F.lit(d3))
    )
    d_mid = (
        F.when(F.col("nc") == 1, F.lit(e1))
        .when(F.col("nc") == 2, F.lit(e2))
        .otherwise(F.lit(e3))
    )
    gamma_top = (
        F.lit(d1) * F.col("nn1")
        + F.lit(d2) * F.col("nn2")
        + F.lit(d3) * F.col("nn3")
    ) / F.col("cc")
    gamma_mid = (
        F.lit(e1) * F.col("mm1")
        + F.lit(e2) * F.col("mm2")
        + F.lit(e3) * F.col("mm3")
    ) / F.col("tc")
    p0 = F.col("nu").cast("double") / F.lit(m["uu"])
    p_mid = (F.col("nc") - d_mid) / F.col("tc") + gamma_mid * p0
    return (F.col("c3") - d_top) / F.col("cc") + gamma_top * p_mid


# --------------------------------------------------------------------------
# probe_gate_calibration — the threshold ladder a deployed TRAINED
# filter is actually tuned with (the quality_threshold_sweep pattern,
# but over the probe's exact integer margins instead of the heuristic
# quality score).

_GATE_PCTS = (5, 10, 20, 30, 50)


def _probe_gate_sql() -> str:
    from ffiec_pq_spark.queries.round12b import _probe_ctes

    ctes, last = _probe_ctes()
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
      SELECT vec_id, y,
             row_number() OVER (
               ORDER BY margin_micro DESC, vec_id ASC
             ) AS rank
      FROM scored
    )"""
    )
    pcts = ", ".join(str(p) for p in _GATE_PCTS)
    ctes.append(
        f"rung AS (SELECT unnest(CAST([{pcts}] AS BIGINT[])) AS thr_pct)"
    )
    ctes.append(
        r"""tok AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT thr_pct,
           count(*) AS n_total,
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
             ra.rank <= greatest((nn.n * r.thr_pct) // 100, 1) AS kept
      FROM ranked ra CROSS JOIN rung r CROSS JOIN nn
      LEFT JOIN tok t ON t.doc_id = ra.vec_id
    )
    GROUP BY thr_pct
    """
    )


@register(
    "probe_gate_calibration",
    _probe_gate_sql(),
    tags=["similarity", "iterative", "quality", "curation"],
)
def probe_gate_calibration(spark, sf_dir):
    """Gate-calibration ladder for the TRAINED linear-probe filter:
    at each candidate keep-percentile (top 5/10/20/30/50% by exact
    integer margin), the keep rate, the surviving token budget (the
    corpus documents the vectors embed, ``doc_id = vec_id``), and the
    positive-class precision — the curve a data lead reads to pick
    the production cutoff (where precision stops improving but tokens
    keep falling).  ``quality_threshold_sweep`` is this view for the
    HEURISTIC score; a deployed pipeline sweeps its trained scorer,
    and this query serves the same resident model as
    ``embedding_probe_train_scores`` (``probe_weights``).

    Plan: one scoring projection over the resident weights (exact
    int64 margin fold, no Python), the corpus-sized token-count
    relation equi-joined into the scored population BEFORE the rank
    (no broadcast hint — both sides are one row per document, so a
    forced broadcast would build a corpus-sized hash table on every
    executor at 100 TB; AQE chooses from measured sizes), ONE
    :func:`distributed_rank` shared by every rung, a 5-row
    literal-relation explode, and a <= 5-group final aggregate with
    map-side partials.  Nothing in the ladder grows with the corpus
    but the single scan + join + rank exchange."""
    from ffiec_pq_spark.operators.windows import distributed_rank
    from ffiec_pq_spark.queries.round12b import probe_corpus, probe_weights
    from ffiec_pq_spark.operators.linear_probe import probe_margins

    emb = probe_corpus(spark, sf_dir)
    y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
    scored = probe_margins(
        emb.withColumn("_yy", y), "embedding", "vec_id", "_yy",
        probe_weights(spark, sf_dir),
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("_n"))
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    ranked = distributed_rank(
        scored.join(tok, "vec_id", "left"),
        [F.col("margin_micro").desc(), F.col("vec_id").asc()],
        rank_col="rank",
    )
    lad = (
        ranked.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "thr_pct",
            F.explode(F.array(*[F.lit(p).cast("long") for p in _GATE_PCTS])),
        )
        .withColumn(
            "kept",
            # exact integer floor on both engines (`div`, matching the
            # oracle's `//` — never a double divide-then-truncate)
            F.col("rank")
            <= F.greatest(
                F.expr("(_n * thr_pct) div 100"),
                F.lit(1).cast("long"),
            ),
        )
    )
    kept_l = F.col("kept").cast("long")
    pos_l = (F.col("kept") & (F.col("y") == 1)).cast("long")
    return lad.groupBy("thr_pct").agg(
        F.count(F.lit(1)).alias("n_total"),
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


# ONE scored relation per (session, dataset) — the resident-labelling
# convention of dedup.component_labels: the estimation + scoring
# passes run once (the bench's COLD column), every later consumer
# (the gate ladder, the agreement matrix, the scorecard) reads the
# eagerly-checkpointed relation.
_KN3_SCORES = Memo("kn3_scores")


@register("doc_kn_trigram", _KN3_SQL, tags=["lm", "quality", "text"])
def doc_kn_trigram(spark, sf_dir):
    """Per-document mean log-probability under an interpolated
    MODIFIED Kneser-Ney trigram model (Chen & Goodman 1999: three
    count-of-count-estimated discounts D1/D2/D3+ per level instead of
    the single absolute discount of ``doc_kneser_ney_bigram``) — the
    scoring model KenLM-trained CCNet-style perplexity filters
    actually deploy.

    Plan (the ``doc_kneser_ney_bigram`` family, one order higher):
    trigrams built array-side (nested zip_with, no self-joins);
    estimation runs on DISTINCT content with copy-count weights
    (weighted counts equal naive corpus counts exactly — the oracle's
    naive full-corpus replay proves the collapse; continuation counts
    are distinct-type counts, duplication-INVARIANT); the six
    discounts are rationals of eight collected count-of-count
    integers, computed driver-side with the identical op sequence as
    the oracle's SQL doubles; scoring attaches the five keyed count
    relations back to the trigram stream and evaluates one per-row
    float expression whose tree matches the oracle's — only the
    per-doc ``avg(ln(p))`` is rounded (6 dp, the accepted precedent).
    The interpolated distribution sums to exactly 1 over the
    vocabulary (pinned in tests/test_round13.py).

    At 100 TB: every stage is a keyed aggregation or keyed join on
    n-gram types (shuffle ∝ distinct trigrams, not corpus tokens);
    the only collects are two 4-integer count-of-count rows; a d-way
    duplicated corpus costs ~1x the distinct corpus.  The scored
    relation is RESIDENT per (session, dataset) — estimation runs
    once (the cold column), every repeat call and every downstream
    consumer serves the checkpointed relation."""
    return _KN3_SCORES.get_or_build(
        dataset_key(spark, sf_dir), lambda: _kn3_scores_build(spark, sf_dir)
    )


def _kn3_scores_build(spark, sf_dir):
    m = _kn3_model(spark, sf_dir)
    rep_scores = (
        m["tg"]
        .join(m["c3"], ["w1", "w2", "w3"])
        .join(m["ctx2"], ["w1", "w2"])
        .join(m["nc"], ["w2", "w3"])
        .join(m["ctx1"], ["w2"])
        .join(m["nu"], ["w3"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(F.avg(F.log(_kn3_p_col(m))), 6).alias(
                "avg_kn3_logprob"
            ),
        )
    )
    return (
        m["groups"].select("id", "rep")
        .join(rep_scores.withColumnRenamed("doc_id", "rep"), "rep")
        .select(
            F.col("id").alias("doc_id"), "n_trigrams", "avg_kn3_logprob"
        )
        .localCheckpoint(eager=True)
    )
