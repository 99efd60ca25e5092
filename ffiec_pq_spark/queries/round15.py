"""Round-15: significance and attribution views for the curation
stack —

- ``gate_mcnemar_accuracy`` — the PAIRED accuracy-significance test
  between the three quality gates.  ``gate_agreement_matrix`` (kappa)
  says how much two gates overlap; this says whether one is
  SIGNIFICANTLY more accurate against the labels — the classic
  McNemar test over the discordant pairs (one gate right, the other
  wrong), in exact integer micros so both engines agree bit-for-bit.
  Equal keep budgets make the marginals identical by construction, so
  a naive keep-vs-keep McNemar is degenerate (b = c always); testing
  CORRECTNESS indicators is the non-degenerate, decision-relevant
  form.
- ``source_keyness_terms`` — per-source distinctive vocabulary: the
  top chi-square "keyness" terms of each source against the rest of
  the corpus.  ``source_bigram_kl_drift`` flags WHICH source stopped
  looking like the corpus; this says WHY, term by term — the
  drill-down a curation lead reads before deciding whether the drift
  is a crawler bug (boilerplate tokens) or a genuine domain shift.

The reference (iangow/ffiec.pq) has no eval/corpus-analysis surface;
these extend the mandated training-data-pipeline layer under the
established certification discipline."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.session import dataset_key, load_table


# --------------------------------------------------------------------------
# gate_mcnemar_accuracy


def _mcnemar_sql() -> str:
    from ffiec_pq_spark.queries.round13c import _gate_ctes

    ctes = _gate_ctes()
    ctes.append(
        """labm AS (
      SELECT vec_id AS doc_id,
             coalesce(label, 0) = 0 AS pos
      FROM embeddings
    )"""
    )
    ctes.append(
        """corr AS (
      SELECT g.doc_id,
             (g.g_h = l.pos) AS c_h,
             (g.g_p = l.pos) AS c_p,
             (g.g_k = l.pos) AS c_k
      FROM gates g JOIN labm l USING (doc_id)
    )"""
    )
    ctes.append(
        """mprs AS (
      SELECT 'heuristic~probe' AS pair, c_h AS a, c_p AS b FROM corr
      UNION ALL
      SELECT 'heuristic~kn' AS pair, c_h AS a, c_k AS b FROM corr
      UNION ALL
      SELECT 'probe~kn' AS pair, c_p AS a, c_k AS b FROM corr
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT pair, n, n_only_a, n_only_b,
           CASE WHEN n_only_a + n_only_b = 0 THEN NULL
                ELSE (1000000 * (n_only_a - n_only_b)
                      * (n_only_a - n_only_b))
                     // (n_only_a + n_only_b)
           END AS mcnemar_chi2_micro
    FROM (
      SELECT pair,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_only_a,
             CAST(sum(CASE WHEN b AND NOT a THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_only_b
      FROM mprs GROUP BY pair
    )
    """
    )


@register(
    "gate_mcnemar_accuracy",
    _mcnemar_sql(),
    tags=["quality", "curation", "eval"],
)
def gate_mcnemar_accuracy(spark, sf_dir):
    """Paired accuracy significance between the three quality gates:
    per gate pair, the discordant counts (documents one gate
    classifies correctly against the label and the other does not)
    and the McNemar statistic ``(b−c)²/(b+c)`` in exact integer
    micros.  Completes the eval arc — kappa (agreement), bootstrap
    (fusion gain significance), and now the classifier-vs-classifier
    paired test every model comparison writeup leads with.  Testing
    the KEEP decisions directly would be degenerate (equal budgets ⇒
    equal marginals ⇒ b = c exactly); correctness indicators against
    the shared labels are the standard non-degenerate form.

    Cross-engine exactness: booleans over the resident gated frame's
    pinned scores, integer counts, and one integer ``div`` — no
    doubles anywhere.  The int64 bound is |b−c| ≤ 3.0e6 discordant
    rows before ``1e6·(b−c)²`` overflows; a corpus beyond that needs
    the statistic rescaled (documented, same envelope as the
    bootstrap's micro grid).

    Plan: the resident gated frame (checkpoint scan — no KN/probe
    re-plan), a broadcast label join, a 3-literal pair explode, and a
    3-group rollup with map-side partials; nothing grows beyond the
    one population scan."""
    from ffiec_pq_spark.queries.round13c import _gated_frame

    lab = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        (F.coalesce(F.col("label"), F.lit(0)) == 0).alias("pos"),
    )
    corr = (
        _gated_frame(spark, sf_dir)
        .join(lab, "doc_id")
        .select(
            (F.col("g_h") == F.col("pos")).alias("c_h"),
            (F.col("g_p") == F.col("pos")).alias("c_p"),
            (F.col("g_k") == F.col("pos")).alias("c_k"),
        )
    )
    prs = corr.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("heuristic~probe").alias("pair"),
                    F.col("c_h").alias("a"),
                    F.col("c_p").alias("b"),
                ),
                F.struct(
                    F.lit("heuristic~kn").alias("pair"),
                    F.col("c_h").alias("a"),
                    F.col("c_k").alias("b"),
                ),
                F.struct(
                    F.lit("probe~kn").alias("pair"),
                    F.col("c_p").alias("a"),
                    F.col("c_k").alias("b"),
                ),
            )
        ).alias("pr")
    ).select("pr.pair", "pr.a", "pr.b")
    g = prs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("a") & ~F.col("b")).cast("long"))
        .cast("long")
        .alias("n_only_a"),
        F.sum((F.col("b") & ~F.col("a")).cast("long"))
        .cast("long")
        .alias("n_only_b"),
    )
    return g.select(
        "pair",
        "n",
        "n_only_a",
        "n_only_b",
        F.when(
            F.col("n_only_a") + F.col("n_only_b") > 0,
            F.expr(
                "(1000000 * (n_only_a - n_only_b) * (n_only_a - n_only_b))"
                " div (n_only_a + n_only_b)"
            ),
        )
        .cast("long")
        .alias("mcnemar_chi2_micro"),
    )


# --------------------------------------------------------------------------
# source_keyness_terms

_KEY_TOPK = 5


def _keyness_sql() -> str:
    return f"""
    WITH tok AS (
      SELECT source, t AS term
      FROM (
        SELECT source,
               unnest(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents WHERE text IS NOT NULL
      ) WHERE t <> ''
    ),
    per AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS a
      FROM tok GROUP BY source, term
    ),
    termt AS (
      SELECT term, CAST(count(*) AS BIGINT) AS t_term
      FROM tok GROUP BY term
    ),
    srct AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_src
      FROM tok GROUP BY source
    ),
    grand AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM tok),
    cells AS (
      SELECT p.source, p.term, p.a,
             t.t_term - p.a AS b,
             s.n_src - p.a AS c,
             (g.nn - s.n_src) - (t.t_term - p.a) AS d,
             g.nn
      FROM per p
      JOIN termt t USING (term)
      JOIN srct s USING (source)
      CROSS JOIN grand g
    ),
    scored AS (
      SELECT source, term, a AS cnt_src, b AS cnt_rest,
             round(
               CAST(nn AS DOUBLE)
               * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
               * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
               / nullif(
                   CAST(a + b AS DOUBLE) * (c + d)
                   * (a + c) * (b + d), 0.0), 6) AS keyness_chi2
      FROM cells
      WHERE CAST(a AS DOUBLE) * d > CAST(b AS DOUBLE) * c
    )
    SELECT source, term, cnt_src, cnt_rest, keyness_chi2,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY source
               ORDER BY keyness_chi2 DESC, term ASC
             ) AS rnk
      FROM scored WHERE keyness_chi2 IS NOT NULL
    )
    WHERE rnk <= {_KEY_TOPK}
    """


@register(
    "source_keyness_terms",
    _keyness_sql(),
    tags=["text", "corpus", "quality"],
)
def source_keyness_terms(spark, sf_dir):
    """Per-source distinctive vocabulary: for every source, the top-5
    OVER-represented terms against the rest of the corpus by the
    standard 2×2 chi-square keyness statistic (corpus-linguistics
    "keyness"; Dunning 1993 motivates the family).  The KL drift
    audit (``source_bigram_kl_drift``) tells a curation lead WHICH
    source deviates; this is the drill-down that says WHY — a
    boilerplate token at the top means a crawler bug, a topical term
    means genuine domain shift.

    Cross-engine exactness: all four contingency cells are exact
    integer counts; the statistic is ONE double expression over them
    with identical casts/parenthesization on both engines (the kappa
    convention), rounded to 6 dp; ranking is (keyness DESC, term ASC)
    — a total order; the over-representation filter (``ad > bc``)
    and NULL guard run before the rank on both engines.

    Plan: one tokenize+explode scan feeding three grouped aggregates
    (per-(source,term), per-term, per-source — the last two reduce to
    provably small relations), one shuffle join on term, broadcast
    source totals + 1-row grand total, and a source-keyed rank window
    (never one reducer).  At 100 TB the per-(source,term) aggregate
    is the only data-sized shuffle — the same single-shuffle shape as
    the BM25 postings build."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    from ffiec_pq_spark.operators.text import tokens

    tok = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    per = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    termt = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("t_term")
    )
    srct = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    )
    grand = tok.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    cells = (
        per.join(termt, "term")
        .join(F.broadcast(srct), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "term",
            F.col("a"),
            (F.col("t_term") - F.col("a")).alias("b"),
            (F.col("n_src") - F.col("a")).alias("c"),
            (
                (F.col("nn") - F.col("n_src"))
                - (F.col("t_term") - F.col("a"))
            ).alias("d"),
            "nn",
        )
    )
    ad = F.col("a").cast("double") * F.col("d")
    bc = F.col("b").cast("double") * F.col("c")
    chi2 = F.round(
        F.col("nn").cast("double")
        * (ad - bc)
        * (ad - bc)
        / F.nullif(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d")),
            F.lit(0.0),
        ),
        6,
    )
    scored = (
        cells.filter(ad > bc)
        .select(
            "source",
            "term",
            F.col("a").alias("cnt_src"),
            F.col("b").alias("cnt_rest"),
            chi2.alias("keyness_chi2"),
        )
        .filter(F.col("keyness_chi2").isNotNull())
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("keyness_chi2"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _KEY_TOPK)
    )


# --------------------------------------------------------------------------
# gate_ensemble_ablation — leave-one-signal-out retrain of the learned
# gate: which input earns its weight?

_ABL_ARMS = (
    ("full", -1),
    ("drop_quality", 1),
    ("drop_probe", 2),
    ("drop_kn", 3),
)
_ABL_PCT = 20


def _ablation_sql() -> str:
    from ffiec_pq_spark.operators.linear_probe import (
        PROBE_D_PER_N,
        PROBE_ITERS,
        PROBE_SW,
        PROBE_SX,
    )
    from ffiec_pq_spark.queries.round13c import _pop_ctes
    from ffiec_pq_spark.queries.round14 import _ENS_DIM, _ens_xq_sql

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
    ctes.append(
        f"""fx AS MATERIALIZED (
      SELECT doc_id, unnest([{idx}]) AS i, unnest([{feats}]) AS xq
      FROM pop
    )"""
    )
    ctes.append(f"nnx AS (SELECT count(*) // {_ENS_DIM} AS n FROM fx)")
    # full-population statistics, zeroed per arm inside its subquery
    ctes.append(
        """gram3 AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS aa
      FROM fx a JOIN fx b USING (doc_id) GROUP BY 1, 2
    )"""
    )
    ctes.append(
        f"""bv3 AS MATERIALIZED (
      SELECT f.i, sum(f.xq * l.y) * {PROBE_SX * PROBE_SW} AS bs
      FROM fx f JOIN lab l USING (doc_id) GROUP BY f.i
    )"""
    )
    dd = f"(nnx.n * {PROBE_D_PER_N})"
    arms_sql = []
    for arm, k in _ABL_ARMS:
        sub = [
            f"""gz AS (
          SELECT i, j, CASE WHEN i = {k} OR j = {k} THEN 0 ELSE aa END
                 AS aa FROM gram3
        )""",
            f"""bz AS (
          SELECT i, CASE WHEN i = {k} THEN 0 ELSE bs END AS bs FROM bv3
        )""",
            "aw0 AS (SELECT i, CAST(0 AS BIGINT) AS v FROM bz)",
        ]
        for t in range(PROBE_ITERS):
            sub.append(
                f"""ag{t} AS (
          SELECT gr.i AS i, sum(gr.aa * w.v) - bz.bs AS gg
          FROM gz gr JOIN aw{t} w ON w.i = gr.j
          JOIN bz ON bz.i = gr.i
          GROUP BY gr.i, bz.bs
        )"""
            )
            sub.append(
                f"""aw{t + 1} AS (
          SELECT g.i,
                 w.v - (CASE WHEN g.gg < 0 THEN -((-g.gg) // {dd})
                             ELSE g.gg // {dd} END) AS v
          FROM ag{t} g JOIN aw{t} w USING (i) CROSS JOIN nnx
        )"""
            )
        sub.append(
            f"""asc1 AS (
          SELECT f.doc_id, l.y,
                 CAST(sum(f.xq * w.v) AS BIGINT) AS s
          FROM fx f JOIN aw{PROBE_ITERS} w USING (i)
          JOIN lab l USING (doc_id)
          GROUP BY f.doc_id, l.y
        )"""
        )
        sub.append(
            """ark AS (
          SELECT doc_id, y,
                 row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
          FROM asc1
        )"""
        )
        sub_joined = ",\n        ".join(sub)
        arms_sql.append(
            f"""SELECT * FROM (
      WITH {sub_joined}
      SELECT '{arm}' AS arm,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
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
        SELECT ark.y,
               ark.r <= greatest((nnx.n * {_ABL_PCT}) // 100, 1) AS kept
        FROM ark CROSS JOIN nnx
      )
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL ".join(arms_sql)
    )


@register(
    "gate_ensemble_ablation",
    _ablation_sql(),
    tags=["quality", "curation", "iterative", "eval"],
)
def gate_ensemble_ablation(spark, sf_dir):
    """Leave-one-signal-out ablation for the learned gate ensemble:
    retrain the 4-weight integer combiner with each real input
    (heuristic quality, probe margin, KN log-prob; the bias always
    stays) zeroed out of the sufficient statistics, gate each arm at
    the shared top-20% budget, and report the kept/precision deltas —
    the "which signal earns its weight" table that decides whether a
    scorer is worth its serving cost (``embedding_dim_ablation``'s
    question, one level up the stack).

    Zeroing a feature's row/column of the Gram matrix and its moment
    entry is EXACTLY retraining on the population with that feature
    zeroed: the integer GD's gradient for the zeroed coordinate stays
    0, so its weight stays 0 and every other weight follows the
    ablated recursion bit-for-bit — which is what the oracle replays
    as four unrolled CTE chains over the SAME materialized statistics.
    The retrains are driver-side arithmetic on the resident 128-byte
    statistics (shared with ``gate_ensemble_unlearn``'s memo): four
    GDs cost microseconds, no extra scan.

    Plan: the resident gated population scanned ONCE, a 4-literal arm
    explode (each arm's score an exact int64 zip_with fold against
    its own weights), ONE arm-keyed :func:`distributed_rank` (never a
    single reducer), a 1-row budget broadcast, and a 4-group rollup
    with map-side partials."""
    from ffiec_pq_spark.operators.linear_probe import probe_fit_int
    from ffiec_pq_spark.operators.windows import distributed_rank
    from ffiec_pq_spark.queries.round14 import (
        _ENS_DIM,
        _ens_population,
        _ens_score_col,
        _ens_stats,
    )
    from ffiec_pq_spark.queries.round14b import _ENS_STATS_MEMO

    import os as _os

    pop = _ens_population(spark, sf_dir)
    a, b, n = _ENS_STATS_MEMO.get_or_build(
        dataset_key(None, sf_dir), lambda: _ens_stats(pop)
    )
    arms = []
    for arm, k in _ABL_ARMS:
        az = [
            [
                0 if (i == k or j == k) else a[i][j]
                for j in range(_ENS_DIM)
            ]
            for i in range(_ENS_DIM)
        ]
        bz = [0 if i == k else b[i] for i in range(_ENS_DIM)]
        arms.append((arm, probe_fit_int(az, bz, n)))
    sc = pop.select(
        "doc_id",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(arm).alias("arm"),
                        _ens_score_col(w).alias("s"),
                    )
                    for arm, w in arms
                ]
            )
        ).alias("x"),
    ).select("doc_id", "y", F.col("x.arm").alias("arm"), F.col("x.s").alias("s"))
    ranked = distributed_rank(
        sc,
        [F.col("s").desc(), F.col("doc_id").asc()],
        part_cols=("arm",),
        rank_col="r",
    )
    n_tot = pop.agg(F.count(F.lit(1)).alias("_n"))
    lad = ranked.crossJoin(F.broadcast(n_tot)).withColumn(
        "kept",
        F.col("r")
        <= F.greatest(
            F.expr(f"(_n * {_ABL_PCT}) div 100"), F.lit(1).cast("long")
        ),
    )
    kept_l = F.col("kept").cast("long")
    pos_l = (F.col("kept") & (F.col("y") == 1)).cast("long")
    return lad.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(kept_l).cast("long").alias("n_kept"),
        F.sum(pos_l).cast("long").alias("pos_kept"),
        F.when(F.sum(kept_l) == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.sum(pos_l) / F.sum(kept_l).cast("double"), 6)
        )
        .alias("pos_precision"),
    )


# --------------------------------------------------------------------------
# probe_margin_reliability — the trained filter's calibration curve.


def _probe_reliability_sql() -> str:
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
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(sum(y) / CAST(count(*) AS DOUBLE), 6) AS pos_rate
    FROM (
      SELECT y,
             CAST(ntile(10) OVER (
               ORDER BY margin_micro DESC, vec_id ASC
             ) AS BIGINT) AS decile
      FROM scored
    )
    GROUP BY decile
    """
    )


@register(
    "probe_margin_reliability",
    _probe_reliability_sql(),
    tags=["quality", "similarity", "eval"],
)
def probe_margin_reliability(spark, sf_dir):
    """Reliability curve for the TRAINED linear-probe filter: the
    positive-class rate per margin decile (equi-depth ntile over the
    exact integer margins).  A monotone curve means the margin is
    calibrated enough to gate on; a flat or non-monotone one means
    the trained score separates poorly off the top decile — the same
    audit ``docs_nb_margin_reliability`` gives the NB filter, now for
    the probe (the scorer the ensemble actually weights highest).

    Cross-engine exactness: margins are exact int64 micros against
    the resident weights; decile edges come from a total order
    (margin DESC, vec_id ASC) so ANSI ``ntile(10)`` and
    :func:`~ffiec_pq_spark.operators.windows.ntile_from_rank` (over
    :func:`distributed_rank` — never a single-reducer window) agree
    bit-for-bit; the rate is one rounded division of integers.

    Plan: scoring projection over the resident weights (no Python),
    one range-partitioned rank, a 1-row count broadcast, a 10-group
    rollup with map-side partials."""
    from ffiec_pq_spark.operators.windows import (
        distributed_rank,
        ntile_from_rank,
    )
    from ffiec_pq_spark.operators.linear_probe import probe_margins
    from ffiec_pq_spark.queries.round12b import probe_corpus, probe_weights

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
    binned = ranked.crossJoin(F.broadcast(n_tot)).select(
        "y",
        ntile_from_rank(F.col("rank"), F.col("_n"), 10)
        .cast("long")
        .alias("decile"),
    )
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 6).alias(
            "pos_rate"
        ),
    )
