"""Round-9 third wave: the product-quantization (PQ) vector family
(operators/pq.py) plus the evaluation and selection operators that
complete the vector/dedup surface for a 100 TB training-data pipeline.

- ``embedding_pq_codebook`` — train m per-subspace codebooks with
  deterministic Lloyd steps and report the code histogram + mean
  quantization error per (subspace, code): the artifact that tells an
  index team whether the codebook is balanced (no dead codes, no
  one-code-swallows-all collapse) before a 100 TB encode job is paid.
- ``ann_pq_adc_topk`` — asymmetric-distance (ADC) top-k search against
  the PQ codes: the probe is compared to CENTROIDS only (m·k lookup
  entries), never to raw vectors, so query cost is independent of dim
  and the scan reads m bytes per vector.
- ``ann_pq_recall_at_k`` — PQ/ADC recall@10 vs brute-force ground
  truth (the index-acceptance gate).
- ``ann_ivfpq_residual_topk`` — the FULL IVF-PQ composition: coarse
  cells prune the scan, round(·, 9) residuals feed the PQ stage,
  probed-cell ADC search (FAISS IVFPQ lineage).
- ``embedding_kcenter_coreset`` — greedy farthest-point (Gonzalez)
  diversity-maximizing subset selection; bit-exact replay because the
  centers are actual data points.
- ``dedup_lsh_recall_eval`` — recall/precision of the production
  MinHash banding vs uncapped exact-Jaccard ground truth (the
  false-negative audit complementing minhash_calibration).

All strict-oracle certified: the DuckDB SQL replays the identical
deterministic chain (same lowest-id inits, same round(·, 9) distance
discipline, same empty-cell carry-forward), then the same integer
nano-unit distance sums, so results match bit-for-bit.  Float
discipline: distances are rounded to 9 dp IN-ENGINE before any
cross-row reduction, reductions over distances are integer sums
(order-independent), ratio denominators are nullif-guarded (Spark 4
ANSI mode raises on 0/0), and every derived double is rounded
identically on both sides after aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.functions.lits import double_array
from ffiec_pq_spark.resident import Memo
from ffiec_pq_spark.operators.pq import pq_adc_topk, pq_codes, pq_fit
from ffiec_pq_spark.queries.similarity import _DIM, _PROBE
from ffiec_pq_spark.session import dataset_key, load_table

# PQ geometry for the certified queries: 64-dim embeddings split into
# m=4 subspaces of 16 dims, k=4 codes per subspace, 3 Lloyd steps —
# tiny but shape-identical to a production m=D/8, k=256 setup (see
# operators/pq.py docstring for the literal-size switchover note).
_M = 4
_SUB_DIM = _DIM // _M
_K = 4
_ITERS = 3


def _pq_ctes(
    m: int, sub_dim: int, k: int, iters: int, prefix: str = ""
) -> list[str]:
    """The per-subspace deterministic Lloyd loop as a literal CTE chain
    (the PQ generalization of queries/similarity._kmeans_ctes — the
    subspace id joins every relation's key).  ``{prefix}asg{iters}`` is
    the final (vec_id, sub) -> code assignment with its round(·, 9)
    squared distance.  ``prefix`` namespaces every CTE so several
    geometries' chains can coexist in ONE oracle (the round-10
    compression design curve)."""
    P = prefix
    ctes = [
        f"""{P}ex AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings
    )""",
        f"""{P}sx AS (
      SELECT vec_id, CAST((i - 1) // {sub_dim} AS INTEGER) AS sub,
             (i - 1) % {sub_dim} AS j, x
      FROM {P}ex
    )""",
        f"""{P}cent0 AS (
      SELECT sub,
             CAST(dense_rank() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                  AS INTEGER) AS c,
             j, x AS v
      FROM {P}sx
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
    )""",
    ]
    for it in range(iters + 1):
        ctes.append(
            f"""{P}d{it} AS (
      SELECT s.vec_id, s.sub, c.c,
             round(sum((s.x - c.v) * (s.x - c.v)), 9) AS d
      FROM {P}sx s JOIN {P}cent{it} c ON c.sub = s.sub AND c.j = s.j
      GROUP BY 1, 2, 3
    )"""
        )
        ctes.append(
            f"""{P}asg{it} AS (
      SELECT vec_id, sub, c, d FROM (
        SELECT vec_id, sub, c, d,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d ASC, c ASC) AS rn
        FROM {P}d{it}
      ) WHERE rn = 1
    )"""
        )
        if it < iters:
            ctes.append(
                f"""{P}upd{it} AS (
      SELECT a.sub, a.c, s.j, avg(s.x) AS v
      FROM {P}asg{it} a JOIN {P}sx s ON s.vec_id = a.vec_id AND s.sub = a.sub
      GROUP BY 1, 2, 3
    )"""
            )
            ctes.append(
                f"""{P}cent{it + 1} AS (
      SELECT p.sub, p.c, p.j, coalesce(u.v, p.v) AS v
      FROM {P}cent{it} p
      LEFT JOIN {P}upd{it} u ON u.sub = p.sub AND u.c = p.c AND u.j = p.j
    )"""
            )
    return ctes


def _pq_codebook_sql() -> str:
    ctes = _pq_ctes(_M, _SUB_DIM, _K, _ITERS)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT sub, c AS cell, count(*) AS n,
           round(CAST(sum(CAST(round(d * 1e9, 0) AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1e9, 6) AS mean_err
    FROM asg{_ITERS}
    GROUP BY 1, 2"""
    )


@register(
    "embedding_pq_codebook",
    _pq_codebook_sql(),
    tags=["similarity", "quantize", "iterative"],
)
def embedding_pq_codebook(spark, sf_dir):
    """Train the PQ codebooks (operators/pq.py) and report, per
    (subspace, code): member count and mean round(·, 9) quantization
    error (integer nano-unit sum, so the mean is order-independent).

    Scale shape: training is one groupBy(sub, cell) job per Lloyd step
    with per-dimension map-side-combined sums (m·k·sub_dim floats to
    the driver per step); encoding is a pure column expression against
    the broadcast codebook literal; this rollup is one m·k-group
    aggregation.  No global sort, no cartesian, no per-row Python."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=_M, sub_dim=_SUB_DIM, k=_K, iters=_ITERS)
    codes = pq_codes(emb, books)
    nano = F.round(F.col("d") * F.lit(1e9), 0).cast("long")
    return (
        codes.select("sub", "cell", nano.alias("nano"))
        .groupBy("sub", "cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("nano").alias("nano"))
        .select(
            "sub",
            "cell",
            "n",
            F.round(
                F.col("nano").cast("double")
                / F.col("n").cast("double")
                / F.lit(1e9),
                6,
            ).alias("mean_err"),
        )
    )


def _pq_adc_sql(top_k: int = 10) -> str:
    ctes = _pq_ctes(_M, _SUB_DIM, _K, _ITERS)
    probe_lit = "[" + ", ".join(repr(float(x)) for x in _PROBE) + "]::DOUBLE[]"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    qx AS (
      SELECT generate_subscripts(q, 1) AS i, unnest(q)::DOUBLE AS x
      FROM (SELECT {probe_lit} AS q)
    ),
    qsub AS (
      SELECT CAST((i - 1) // {_SUB_DIM} AS INTEGER) AS sub,
             (i - 1) % {_SUB_DIM} AS j, x
      FROM qx
    ),
    lut AS (
      SELECT c.sub, c.c, round(sum((q.x - c.v) * (q.x - c.v)), 9) AS d
      FROM cent{_ITERS} c JOIN qsub q ON q.sub = c.sub AND q.j = c.j
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT a.vec_id, sum(CAST(round(l.d * 1e9, 0) AS BIGINT)) AS nano
      FROM asg{_ITERS} a JOIN lut l ON l.sub = a.sub AND l.c = a.c
      GROUP BY 1
    )
    SELECT vec_id AS id, round(CAST(nano AS DOUBLE) / 1e9, 6) AS adc_dist
    FROM adc
    ORDER BY nano ASC, vec_id ASC
    LIMIT {top_k}"""
    )


@register(
    "ann_pq_adc_topk",
    _pq_adc_sql(),
    tags=["similarity", "quantize"],
)
def ann_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-10 for the shared probe vector
    (queries/similarity._PROBE): approximate squared distance =
    Σ_sub d(probe_sub, centroid of the vector's code).

    The 100 TB query path of an IVF-PQ index: the probe touches
    centroids only (m·k lookup entries), the scan reads m CODES per
    vector (not dim floats), the per-id reduction is an
    order-independent integer sum, and the top-k is a
    TakeOrderedAndProject — never a global sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=_M, sub_dim=_SUB_DIM, k=_K, iters=_ITERS)
    codes = pq_codes(emb, books)
    return pq_adc_topk(codes, books, _PROBE, top_k=10)


def _pq_recall_sql(top_k: int = 10) -> str:
    ctes = _pq_ctes(_M, _SUB_DIM, _K, _ITERS)
    probe_lit = "[" + ", ".join(repr(float(x)) for x in _PROBE) + "]::DOUBLE[]"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    qx AS (
      SELECT generate_subscripts(q, 1) AS i, unnest(q)::DOUBLE AS x
      FROM (SELECT {probe_lit} AS q)
    ),
    qsub AS (
      SELECT CAST((i - 1) // {_SUB_DIM} AS INTEGER) AS sub,
             (i - 1) % {_SUB_DIM} AS j, x
      FROM qx
    ),
    lut AS (
      SELECT c.sub, c.c, round(sum((q.x - c.v) * (q.x - c.v)), 9) AS d
      FROM cent{_ITERS} c JOIN qsub q ON q.sub = c.sub AND q.j = c.j
      GROUP BY 1, 2
    ),
    adc_top AS (
      SELECT a.vec_id
      FROM asg{_ITERS} a JOIN lut l ON l.sub = a.sub AND l.c = a.c
      GROUP BY a.vec_id
      ORDER BY sum(CAST(round(l.d * 1e9, 0) AS BIGINT)) ASC, a.vec_id ASC
      LIMIT {top_k}
    ),
    exact_d AS (
      SELECT e.vec_id, round(sum((e.x - q.x) * (e.x - q.x)), 9) AS d
      FROM ex e JOIN qx q ON q.i = e.i
      GROUP BY 1
    ),
    exact_top AS (
      SELECT vec_id FROM exact_d
      ORDER BY CAST(round(d * 1e9, 0) AS BIGINT) ASC, vec_id ASC
      LIMIT {top_k}
    )
    SELECT {top_k} AS k, count(*) AS n_hit,
           round(CAST(count(*) AS DOUBLE) / {float(top_k)!r}, 6) AS recall
    FROM adc_top JOIN exact_top USING (vec_id)"""
    )


@register(
    "ann_pq_recall_at_k",
    _pq_recall_sql(),
    tags=["similarity", "quantize", "evaluation"],
)
def ann_pq_recall_at_k(spark, sf_dir):
    """Recall@10 of the PQ/ADC index against brute-force ground truth
    for the shared probe — the acceptance metric an index team gates a
    100 TB encode job on (is m=4/k=4 compression keeping enough of the
    true neighborhood?).

    Scale shape: the ground-truth side is the brute-force
    TakeOrderedAndProject scan (the thing you CAN afford once per probe
    panel, to validate); the ADC side reads codes only; both top-k
    relations are k rows, so the overlap join is a broadcast of k ids.
    Distances reduce as integer nano sums — no cross-engine ulp."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=_M, sub_dim=_SUB_DIM, k=_K, iters=_ITERS)
    codes = pq_codes(emb, books)
    top_k = 10
    approx = pq_adc_topk(codes, books, _PROBE, top_k=top_k).select("id")

    q_arr = double_array(_PROBE)
    d_exact = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                q_arr,
                lambda x, qv: (x - qv) * (x - qv),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
        9,
    )
    nano = F.round(d_exact * F.lit(1e9), 0).cast("long")
    exact = (
        emb.select(F.col("vec_id").alias("id"), nano.alias("nano"))
        .orderBy(F.col("nano").asc(), F.col("id").asc())
        .limit(top_k)
        .select("id")
    )
    hit = approx.join(F.broadcast(exact), "id")
    return hit.agg(F.count(F.lit(1)).alias("n_hit")).select(
        F.lit(top_k).alias("k"),
        F.col("n_hit"),
        F.round(
            F.col("n_hit").cast("double") / F.lit(float(top_k)), 6
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + residual PQ + probed-cell ADC search.
# Small geometry keeps the unrolled oracle tractable; the plan shapes
# are identical at production scale (coarse k in the thousands, cell =
# partition column, PQ k=256).
_CO_K = 4
_CO_ITERS = 2
_PQ_ITERS = 2
_NPROBE = 2


def _ivfpq_chain_ctes() -> tuple[list[str], int, int]:
    """The SHARED IVF-PQ replay chain, through ``qcd`` (probe-to-
    coarse-cell distances): coarse Lloyd chain (co_*), per-element
    round(·, 9) residuals, per-subspace residual Lloyd chain (pq_*),
    probe explode (qx).  Returned as (ctes, T, T2) where T/T2 are the
    final coarse/PQ centroid generations — consumed by ``_ivfpq_sql``
    (single-nprobe search) and round10's nprobe recall curve.  Both
    Lloyd chains follow the certified kmeans/PQ conventions
    (lowest-id init, round(·, 9) distances, empty-cell carry)."""
    probe_lit = "[" + ", ".join(repr(float(x)) for x in _PROBE) + "]::DOUBLE[]"
    ctes = [
        """ex AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings
    )""",
        f"""co_cent0 AS (
      SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c,
             i, x AS v
      FROM ex
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id
                       LIMIT {_CO_K})
    )""",
    ]
    for it in range(_CO_ITERS + 1):
        ctes.append(
            f"""co_d{it} AS (
      SELECT e.vec_id, c.c, round(sum((e.x - c.v) * (e.x - c.v)), 9) AS d
      FROM ex e JOIN co_cent{it} c ON e.i = c.i
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"""co_asg{it} AS (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC)
                 AS rn
        FROM co_d{it}
      ) WHERE rn = 1
    )"""
        )
        if it < _CO_ITERS:
            ctes.append(
                f"""co_upd{it} AS (
      SELECT a.c, e.i, avg(e.x) AS v
      FROM co_asg{it} a JOIN ex e ON e.vec_id = a.vec_id
      GROUP BY 1, 2
    )"""
            )
            ctes.append(
                f"""co_cent{it + 1} AS (
      SELECT p.c, p.i, coalesce(u.v, p.v) AS v
      FROM co_cent{it} p LEFT JOIN co_upd{it} u ON u.c = p.c AND u.i = p.i
    )"""
            )
    T = _CO_ITERS
    ctes.append(
        f"""res AS (
      SELECT e.vec_id, a.c AS ccell, e.i, round(e.x - c.v, 9) AS x
      FROM ex e
      JOIN co_asg{T} a ON a.vec_id = e.vec_id
      JOIN co_cent{T} c ON c.c = a.c AND c.i = e.i
    )"""
    )
    ctes.append(
        f"""rsx AS (
      SELECT vec_id, ccell, CAST((i - 1) // {_SUB_DIM} AS INTEGER) AS sub,
             (i - 1) % {_SUB_DIM} AS j, x
      FROM res
    )"""
    )
    ctes.append(
        f"""pq_cent0 AS (
      SELECT sub,
             CAST(dense_rank() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                  AS INTEGER) AS c,
             j, x AS v
      FROM rsx
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id
                       LIMIT {_K})
    )"""
    )
    for it in range(_PQ_ITERS + 1):
        ctes.append(
            f"""pq_d{it} AS (
      SELECT s.vec_id, s.sub, c.c,
             round(sum((s.x - c.v) * (s.x - c.v)), 9) AS d
      FROM rsx s JOIN pq_cent{it} c ON c.sub = s.sub AND c.j = s.j
      GROUP BY 1, 2, 3
    )"""
        )
        ctes.append(
            f"""pq_asg{it} AS (
      SELECT vec_id, sub, c FROM (
        SELECT vec_id, sub, c,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d ASC, c ASC) AS rn
        FROM pq_d{it}
      ) WHERE rn = 1
    )"""
        )
        if it < _PQ_ITERS:
            ctes.append(
                f"""pq_upd{it} AS (
      SELECT a.sub, a.c, s.j, avg(s.x) AS v
      FROM pq_asg{it} a JOIN rsx s ON s.vec_id = a.vec_id AND s.sub = a.sub
      GROUP BY 1, 2, 3
    )"""
            )
            ctes.append(
                f"""pq_cent{it + 1} AS (
      SELECT p.sub, p.c, p.j, coalesce(u.v, p.v) AS v
      FROM pq_cent{it} p
      LEFT JOIN pq_upd{it} u ON u.sub = p.sub AND u.c = p.c AND u.j = p.j
    )"""
            )
    T2 = _PQ_ITERS
    ctes.append(
        f"""qx AS (
      SELECT generate_subscripts(q, 1) AS i, unnest(q)::DOUBLE AS x
      FROM (SELECT {probe_lit} AS q)
    )"""
    )
    ctes.append(
        f"""qcd AS (
      SELECT c.c, round(sum((q.x - c.v) * (q.x - c.v)), 9) AS d
      FROM co_cent{T} c JOIN qx q ON q.i = c.i
      GROUP BY 1
    )"""
    )
    return ctes, T, T2


def _ivfpq_sql(top_k: int = 10) -> str:
    """Single-nprobe IVF-PQ search over the shared chain (see
    ``_ivfpq_chain_ctes``): probe cell ranking, per-cell probe
    residual LUT, probed-cell ADC."""
    ctes, T, T2 = _ivfpq_chain_ctes()
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    probed AS (
      SELECT c FROM (
        SELECT c, row_number() OVER (ORDER BY d ASC, c ASC) AS rn FROM qcd
      ) WHERE rn <= {_NPROBE}
    ),
    qres AS (
      SELECT p.c AS ccell, q.i, round(q.x - c.v, 9) AS x
      FROM probed p
      JOIN co_cent{T} c ON c.c = p.c
      JOIN qx q ON q.i = c.i
    ),
    qrsx AS (
      SELECT ccell, CAST((i - 1) // {_SUB_DIM} AS INTEGER) AS sub,
             (i - 1) % {_SUB_DIM} AS j, x
      FROM qres
    ),
    lut AS (
      SELECT r.ccell, pc.sub, pc.c,
             round(sum((r.x - pc.v) * (r.x - pc.v)), 9) AS d
      FROM qrsx r
      JOIN pq_cent{T2} pc ON pc.sub = r.sub AND pc.j = r.j
      GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT a.vec_id, sum(CAST(round(l.d * 1e9, 0) AS BIGINT)) AS nano
      FROM pq_asg{T2} a
      JOIN co_asg{T} ca ON ca.vec_id = a.vec_id
      JOIN lut l ON l.ccell = ca.c AND l.sub = a.sub AND l.c = a.c
      GROUP BY 1
    )
    SELECT vec_id AS id, round(CAST(nano AS DOUBLE) / 1e9, 6) AS adc_dist
    FROM adc
    ORDER BY nano ASC, vec_id ASC
    LIMIT {top_k}"""
    )


# Trained IVF-PQ models per dataset_key(None, sf_dir): (coarse
# centroids, PQ codebooks).
_IVFPQ_MODELS = Memo("ivfpq_models")


def _ivfpq_model(spark, sf_dir):
    """Train-or-fetch the shared IVF-PQ index model for ``sf_dir``:
    (coarse centroids, PQ codebooks, persisted residual relation).
    One deployment = one index — the search query and every design
    curve evaluated against it (nprobe sweep) share the same trained
    model, exactly as a production evaluation would, so the two Lloyd
    chains run once per process per dataset."""
    from ffiec_pq_spark.operators.kmeans import kmeans_fit
    from ffiec_pq_spark.operators.pq import ivfpq_residuals, pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    key = dataset_key(None, sf_dir)
    model = _IVFPQ_MODELS.get(key)
    if model is None:
        coarse = kmeans_fit(emb, k=_CO_K, dim=_DIM, iters=_CO_ITERS)
        resid = ivfpq_residuals(emb, coarse).persist()
        books = pq_fit(
            resid, vec_col="rv", id_col="id",
            m=_M, sub_dim=_SUB_DIM, k=_K, iters=_PQ_ITERS,
        )
        _IVFPQ_MODELS[key] = (coarse, books)
    else:
        coarse, books = model
        resid = ivfpq_residuals(emb, coarse).persist()
    return coarse, books, resid


# Session-scoped SERVE state derived from the trained model: the coded
# corpus relation (the stored index a deployment reads, persisted) and
# the probe's coarse-cell distance ranking (k_co ints).  Deriving these
# per call cost every warm rep ~1 s of pure DRIVER plan re-construction
# (ivfpq_codes + ivfpq_cell_ranks rebuild literal-heavy expression
# trees and the ranks COLLECT a 1-row job) — round-15 profile: build
# 2.0 s vs execution 0.4 s.  Keyed per session (persisted blocks are
# session-bound), the ``_CC_LABELS`` precedent.
_IVFPQ_SERVE = Memo("ivfpq_serve")


def _ivfpq_serve_state(spark, sf_dir) -> dict:
    """Model + derived serve artifacts for ``sf_dir``: {coarse, books,
    codes (persisted coded-corpus relation), ranks (probe's coarse
    cells, nearest first)}."""
    from ffiec_pq_spark.operators.pq import ivfpq_cell_ranks, ivfpq_codes
    from ffiec_pq_spark.queries.similarity import _PROBE


    def build():
        coarse, books, resid = _ivfpq_model(spark, sf_dir)
        return {
            "coarse": coarse,
            "books": books,
            "codes": ivfpq_codes(resid, books),
            "ranks": ivfpq_cell_ranks(spark, coarse, _PROBE),
        }

    return _IVFPQ_SERVE.get_or_build(dataset_key(spark, sf_dir), build)


@register(
    "ann_ivfpq_residual_topk",
    _ivfpq_sql(),
    tags=["similarity", "quantize", "iterative"],
)
def ann_ivfpq_residual_topk(spark, sf_dir):
    """Full IVF-PQ search (FAISS IVFPQ lineage): coarse k-means cells
    prune the scan (nprobe=2 of 4 cells here), per-element round(·, 9)
    residuals feed the PQ codebooks, and the probe is scored against
    residual centroids only.

    The production 100 TB layout: coarse cell = partition column
    (probed-cell filter becomes partition pruning, as certified in
    ann_ivf_topk), codes = m bytes/vector, probe cost = nprobe·m·k
    centroid distances + one keyed integer-sum exchange +
    TakeOrderedAndProject.  Residual rounding pins the stage-2
    training input bit-for-bit across engines.

    The residual relation is PERSISTED: every PQ Lloyd step, the
    encode, and the final search would otherwise recompute the coarse
    assignment fold (k_co x dim multiply-adds per row) from the scan —
    measured A/B (scripts/ivfpq_plan_bench.py): persist wins 6.20 vs
    6.51s at 1x, 5.57 vs 6.25s at 8x, 6.81 vs 7.58s at 16x (sf0.1
    replicas, min-of-3).  The pinned blocks stay resident until
    session GC (the builder returns a lazy frame, so it cannot
    unpersist itself); long-lived drivers running many pipelines
    should ``spark.catalog.clearCache()`` between them — same caveat
    as the dedup family's shingle persists.

    The TRAINED model (coarse centroids + PQ codebooks — k·dim driver
    floats) is memoized per sf_dir for the life of the process
    (``_IVFPQ_MODELS``): a repeat call searches against the resident
    index — the steady-state cost of a deployed ANN service — instead
    of re-running both Lloyd chains from zero (the index-build cost,
    paid once)."""
    from ffiec_pq_spark.operators.pq import ivfpq_adc_topk

    st = _ivfpq_serve_state(spark, sf_dir)
    probed = sorted(st["ranks"][:_NPROBE])
    return ivfpq_adc_topk(
        st["codes"], st["coarse"], st["books"], _PROBE, probed, top_k=10
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (operators/coreset.py)

_KC_K = 8


def _kcenter_sql(k: int = _KC_K) -> str:
    """Unrolled Gonzalez traversal: sel1 = lowest id; per round, d{t} =
    nano distance of every point to sel{t}'s ACTUAL vector (exact
    parquet values — no averaging, so the replay is bit-exact), dm{t} =
    running least, sel{t+1} = argmax(dm{t}) with lowest-id tie-break."""
    ctes = [
        """ex AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings
    )""",
        "sel1 AS (SELECT min(vec_id) AS vec_id FROM embeddings)",
    ]
    for t in range(1, k):
        ctes.append(
            f"""d{t} AS (
      SELECT e.vec_id,
             CAST(round(round(sum((e.x - c.x) * (e.x - c.x)), 9) * 1e9, 0)
                  AS BIGINT) AS nano
      FROM ex e
      JOIN sel{t} s ON TRUE
      JOIN ex c ON c.i = e.i AND c.vec_id = s.vec_id
      GROUP BY 1
    )"""
        )
        if t == 1:
            ctes.append("dm1 AS (SELECT vec_id, nano FROM d1)")
        else:
            ctes.append(
                f"""dm{t} AS (
      SELECT m.vec_id, least(m.nano, d.nano) AS nano
      FROM dm{t - 1} m JOIN d{t} d USING (vec_id)
    )"""
            )
        ctes.append(
            f"""sel{t + 1} AS (
      SELECT vec_id, nano FROM dm{t} ORDER BY nano DESC, vec_id ASC LIMIT 1
    )"""
        )
    rows = [
        "SELECT 1 AS pick_order, (SELECT vec_id FROM sel1) AS id, "
        "0.0 AS dmin_sel"
    ]
    for t in range(2, k + 1):
        rows.append(
            f"SELECT {t} AS pick_order, vec_id AS id, "
            f"round(CAST(nano AS DOUBLE) / 1e9, 6) AS dmin_sel FROM sel{t}"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(rows)


@register(
    "embedding_kcenter_coreset",
    _kcenter_sql(),
    tags=["similarity", "sampling", "iterative"],
)
def embedding_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset (Gonzalez farthest-point, k=8): the
    diversity-maximizing subset whose selection distances also chart
    coverage-vs-k (the stopping-rule evidence for panel sizing).

    Scale shape: state is one narrow (id, v, dmin) relation; each
    round is a literal-center projection (no join) + a
    TakeOrderedAndProject(1); one row reaches the driver per round.
    Centers are actual data points, so the oracle replay is bit-exact
    (no Lloyd averaging ulps anywhere)."""
    from ffiec_pq_spark.operators.coreset import kcenter_coreset_df

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset_df(spark, emb, k=_KC_K)


# ---------------------------------------------------------------------------
# LSH banding recall/precision audit (completes the dedup family's
# evaluation surface the way ann_pq_recall_at_k completes ANN's).

_RC_TAU = 0.5


def _lsh_recall_sql() -> str:
    """Replay of the production MinHash banding (same permutations,
    band keys, and distinct-content collapse as dedup_minhash_lsh /
    minhash_calibration) against UNCAPPED exact-Jaccard ground truth:
    the afford-once audit that tells a dedup team what fraction of true
    >= tau pairs the banding surfaces, and how clean the candidate set
    is."""
    from ffiec_pq_spark.functions.hashing import hash60_sql
    from ffiec_pq_spark.operators.dedup import MINHASH_PRIME, perm_params
    from ffiec_pq_spark.operators.text import shingles_sql
    from ffiec_pq_spark.queries.dedup import (
        _K as _DK,
        _N_BANDS,
        _N_PERM,
        _ROWS_PER_BAND,
    )

    perms = perm_params(_N_PERM)
    mh_exprs = ",\n             ".join(
        f"min(({a} * (h % {MINHASH_PRIME}) + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, a, b in perms
    )
    band_arms = "\n      UNION ALL\n".join(
        "      SELECT id, {bi} AS band, md5({concat}) AS bkey FROM sig".format(
            bi=bi,
            concat=" || ',' || ".join(
                f"CAST(mh{bi * _ROWS_PER_BAND + ri} AS VARCHAR)"
                for ri in range(_ROWS_PER_BAND)
            ),
        )
        for bi in range(_N_BANDS)
    )
    return f"""
    WITH reps AS (
      SELECT min(doc_id) AS id
      FROM (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch
        FROM documents
      ) GROUP BY ch
    ),
    docs2 AS (
      SELECT d.doc_id AS id, d.text
      FROM documents d JOIN reps r ON r.id = d.doc_id
    ),
    sh AS (
      SELECT id, unnest(list_distinct({shingles_sql('text', _DK)})) AS shingle
      FROM docs2
    ),
    hashed AS (SELECT id, {hash60_sql('shingle')} AS h FROM sh),
    sig AS (
      SELECT id, {mh_exprs}
      FROM hashed GROUP BY id
    ),
    bands AS (
{band_arms}
    ),
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bkey = r.bkey AND l.id < r.id
    ),
    sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a
      JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / (sa.set_size + sb.set_size - n_common) >= {_RC_TAU}
    ),
    hit AS (SELECT id_a FROM truth JOIN cand USING (id_a, id_b))
    SELECT CAST({_RC_TAU} AS DOUBLE) AS tau,
           (SELECT count(*) FROM truth)::BIGINT AS n_true,
           (SELECT count(*) FROM cand)::BIGINT AS n_cand,
           (SELECT count(*) FROM hit)::BIGINT AS n_hit,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / nullif(CAST((SELECT count(*) FROM truth) AS DOUBLE), 0.0),
                 6) AS recall,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / nullif(CAST((SELECT count(*) FROM cand) AS DOUBLE), 0.0),
                 6) AS precision_tau
    """


@register(
    "dedup_lsh_recall_eval",
    _lsh_recall_sql(),
    tags=["dedup", "evaluation"],
)
def dedup_lsh_recall_eval(spark, sf_dir):
    """Recall and precision of the PRODUCTION MinHash banding
    (n_bands x rows_per_band from dedup_minhash_lsh) against uncapped
    exact-Jaccard >= tau ground truth on distinct content.

    minhash_calibration measures estimate ERROR on pairs the banding
    DID surface; this measures what the banding MISSES (the
    false-negative audit a dedup team runs before trusting a config at
    100 TB — the truth side is the one full shingle self-join you CAN
    afford once on a sample).  Counts are exact integers; the two
    ratios are single double divisions rounded identically on both
    engines.

    The shared shingle relation is persisted (signatures, truth join
    and sizes all read it); the pinned blocks stay resident until
    session GC — ``spark.catalog.clearCache()`` between pipelines on
    long-lived drivers, per the dedup-family convention."""
    from ffiec_pq_spark.operators.dedup import (
        doc_shingles,
        exact_dedup_groups,
        lsh_candidates,
        minhash_signatures,
    )
    from ffiec_pq_spark.queries.dedup import (
        _K as _DK,
        _N_BANDS,
        _N_PERM,
        _ROWS_PER_BAND,
    )

    docs = load_table(spark, sf_dir, "documents")
    reps = exact_dedup_groups(docs).select(F.col("rep_id").alias("doc_id"))
    rd = docs.join(reps, "doc_id", "left_semi")
    sh = doc_shingles(rd, k=_DK).persist()
    sigs = minhash_signatures(rd, k=_DK, n_perm=_N_PERM, _shingles=sh)
    cands = lsh_candidates(sigs, _N_BANDS, _ROWS_PER_BAND)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    jx = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    truth = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jx >= F.lit(_RC_TAU))
        .select("id_a", "id_b")
    )
    hits = truth.join(cands, ["id_a", "id_b"])
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    c = cands.agg(F.count(F.lit(1)).alias("n_cand"))
    h = hits.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .select(
            F.lit(float(_RC_TAU)).alias("tau"),
            "n_true",
            "n_cand",
            "n_hit",
            # nullif guards the empty-corpus case: Spark 4 runs ANSI
            # mode, where 0.0/0.0 RAISES instead of returning NaN
            F.round(
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_true").cast("double"), F.lit(0.0)),
                6,
            ).alias("recall"),
            F.round(
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_cand").cast("double"), F.lit(0.0)),
                6,
            ).alias("precision_tau"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental new-batch dedup: the DAILY-INGEST shape — classify each
# incoming doc against the EXISTING corpus (exact layer, then LSH near
# layer), never re-pairing the corpus with itself.

_INC_TAU = 0.5
_INC_MOD = 10
_INC_BATCH_MIN = 8  # doc_id % 10 in {8, 9} -> the "new batch" (~20%)


def _inc_dedup_sql() -> str:
    """Stage-for-stage replay of the asymmetric pipeline: exact layer =
    normalized-content hash semi-join into the corpus hash set; near
    layer = MinHash bands of the REMAINING batch docs joined to bands
    of the corpus's exact-dedup REPS, candidates verified by exact
    Jaccard >= tau.  Same normalization, permutations, and banding as
    the certified dedup family."""
    from ffiec_pq_spark.functions.hashing import hash60_sql
    from ffiec_pq_spark.operators.dedup import MINHASH_PRIME, perm_params
    from ffiec_pq_spark.operators.text import shingles_sql
    from ffiec_pq_spark.queries.dedup import (
        _K as _DK,
        _N_BANDS,
        _N_PERM,
        _ROWS_PER_BAND,
    )

    perms = perm_params(_N_PERM)
    mh_exprs = ",\n             ".join(
        f"min(({a} * (h % {MINHASH_PRIME}) + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, a, b in perms
    )

    def band_arms(src: str) -> str:
        return "\n      UNION ALL\n".join(
            "      SELECT id, {bi} AS band, md5({concat}) AS bkey FROM {src}".format(
                bi=bi,
                src=src,
                concat=" || ',' || ".join(
                    f"CAST(mh{bi * _ROWS_PER_BAND + ri} AS VARCHAR)"
                    for ri in range(_ROWS_PER_BAND)
                ),
            )
            for bi in range(_N_BANDS)
        )

    norm = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    return f"""
    WITH batch AS (
      SELECT doc_id AS id, text FROM documents
      WHERE doc_id % {_INC_MOD} >= {_INC_BATCH_MIN}
    ),
    corpus AS (
      SELECT doc_id AS id, text FROM documents
      WHERE doc_id % {_INC_MOD} < {_INC_BATCH_MIN}
    ),
    bh AS (SELECT id, {norm} AS ch FROM batch),
    chs AS (SELECT DISTINCT {norm} AS ch FROM corpus),
    exact_ids AS (SELECT b.id FROM bh b JOIN chs c ON c.ch = b.ch),
    rem AS (
      SELECT * FROM batch WHERE id NOT IN (SELECT id FROM exact_ids)
    ),
    creps AS (
      SELECT min(id) AS id
      FROM (SELECT id, {norm} AS ch FROM corpus) GROUP BY ch
    ),
    cdocs AS (
      SELECT c.id, c.text FROM corpus c JOIN creps r ON r.id = c.id
    ),
    b_sh AS (
      SELECT id, unnest(list_distinct({shingles_sql('text', _DK)})) AS shingle
      FROM rem
    ),
    c_sh AS (
      SELECT id, unnest(list_distinct({shingles_sql('text', _DK)})) AS shingle
      FROM cdocs
    ),
    b_hashed AS (SELECT id, {hash60_sql('shingle')} AS h FROM b_sh),
    c_hashed AS (SELECT id, {hash60_sql('shingle')} AS h FROM c_sh),
    b_sig AS (SELECT id, {mh_exprs} FROM b_hashed GROUP BY id),
    c_sig AS (SELECT id, {mh_exprs} FROM c_hashed GROUP BY id),
    b_bands AS (
{band_arms('b_sig')}
    ),
    c_bands AS (
{band_arms('c_sig')}
    ),
    cand AS (
      SELECT DISTINCT b.id AS id_b, c.id AS id_c
      FROM b_bands b JOIN c_bands c
        ON b.band = c.band AND b.bkey = c.bkey
    ),
    b_sizes AS (SELECT id, count(*) AS sz FROM b_sh GROUP BY id),
    c_sizes AS (SELECT id, count(*) AS sz FROM c_sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_b, b.id AS id_c, count(*) AS n_common
      FROM b_sh a
      JOIN c_sh b ON a.shingle = b.shingle
      JOIN cand ON cand.id_b = a.id AND cand.id_c = b.id
      GROUP BY 1, 2
    ),
    near_ids AS (
      SELECT DISTINCT id_b AS id
      FROM inter
      JOIN b_sizes sa ON sa.id = id_b
      JOIN c_sizes sb ON sb.id = id_c
      WHERE n_common / (sa.sz + sb.sz - n_common) >= {_INC_TAU}
    )
    SELECT (SELECT count(*) FROM batch)::BIGINT AS n_batch,
           (SELECT count(*) FROM exact_ids)::BIGINT AS n_exact_dup,
           (SELECT count(*) FROM near_ids)::BIGINT AS n_near_dup,
           ((SELECT count(*) FROM batch)
            - (SELECT count(*) FROM exact_ids)
            - (SELECT count(*) FROM near_ids))::BIGINT AS n_clean
    """


@register(
    "dedup_incremental_newbatch",
    _inc_dedup_sql(),
    tags=["dedup", "incremental"],
)
def dedup_incremental_newbatch(spark, sf_dir):
    """Incremental dedup of an incoming batch against the existing
    corpus — the daily-ingest pipeline shape: exact layer (normalized
    content hash semi-join into the corpus's DISTINCT hash set), then
    MinHash-LSH near layer for the remainder (batch bands joined to
    the bands of the corpus's exact-dedup reps, candidates verified by
    exact Jaccard >= tau).

    The scale property is ASYMMETRY: the corpus is touched only as a
    distinct hash set + rep signatures (both already materialized in a
    real pipeline); no corpus x corpus pair is ever generated, so
    daily cost tracks |batch|, not |corpus|^2.  Counts are exact
    integers — no float surface at all."""
    from ffiec_pq_spark.operators.dedup import (
        doc_shingles,
        exact_dedup_groups,
        lsh_bands,
        minhash_signatures,
    )
    from ffiec_pq_spark.operators.text import fingerprint_md5
    from ffiec_pq_spark.queries.dedup import (
        _K as _DK,
        _N_BANDS,
        _N_PERM,
        _ROWS_PER_BAND,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter((F.col("doc_id") % _INC_MOD) >= _INC_BATCH_MIN)
    corpus = docs.filter((F.col("doc_id") % _INC_MOD) < _INC_BATCH_MIN)

    chs = corpus.select(fingerprint_md5("text").alias("content_hash")).distinct()
    bh = batch.select("doc_id", fingerprint_md5("text").alias("content_hash"))
    exact_ids = bh.join(chs, "content_hash", "left_semi").select("doc_id")

    rem = batch.join(exact_ids, "doc_id", "left_anti")
    creps = exact_dedup_groups(corpus).select(F.col("rep_id").alias("doc_id"))
    cdocs = corpus.join(creps, "doc_id", "left_semi")

    sig_b = minhash_signatures(rem, k=_DK, n_perm=_N_PERM)
    sig_c = minhash_signatures(cdocs, k=_DK, n_perm=_N_PERM)
    bands_b = lsh_bands(sig_b, _N_BANDS, _ROWS_PER_BAND).select(
        F.col("id").alias("id_b"), "band", "bkey"
    )
    bands_c = lsh_bands(sig_c, _N_BANDS, _ROWS_PER_BAND).select(
        F.col("id").alias("id_c"), "band", "bkey"
    )
    cand = (
        bands_b.join(bands_c, ["band", "bkey"])
        .select("id_b", "id_c")
        .distinct()
    )

    sh_b = doc_shingles(rem, k=_DK)
    sh_c = doc_shingles(cdocs, k=_DK)
    sizes_b = sh_b.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sizes_c = sh_c.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # PAIR-DRIVEN exact verify (round-10 rewrite of the one weak scale
    # shape in this family): expand each candidate pair by the batch
    # doc's shingles (keyed join on id_b), then keep the rows the
    # corpus rep also holds (keyed join on (id_c, shingle)).  Work is
    # Σ_pairs |sh(batch doc)| probe rows — LSH already bounded the
    # pair count.  The previous shingle-driven form equi-joined the
    # raw batch×rep shingle relations FIRST and only then semi-joined
    # to candidates: Catalyst cannot push a two-column semi-join below
    # the equi-join, so one hot shingle (a stopword-like k-gram held
    # by millions of corpus reps) exploded the intermediate before the
    # prune.  Same counts, same oracle (the SQL replays the naive
    # shingle-driven form — the hash compare proves the rewrite).
    inter = (
        cand.join(sh_b.select(F.col("id").alias("id_b"), "shingle"), "id_b")
        .join(
            sh_c.select(F.col("id").alias("id_c"), "shingle"),
            ["id_c", "shingle"],
        )
        .groupBy("id_b", "id_c")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jx = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    near_ids = (
        inter.join(sizes_b.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_a")), "id_b")
        .join(sizes_c.select(F.col("id").alias("id_c"), F.col("sz").alias("sz_b")), "id_c")
        .filter(jx >= F.lit(_INC_TAU))
        .select("id_b")
        .distinct()
    )

    nb = batch.agg(F.count(F.lit(1)).alias("n_batch"))
    ne = exact_ids.agg(F.count(F.lit(1)).alias("n_exact_dup"))
    nn = near_ids.agg(F.count(F.lit(1)).alias("n_near_dup"))
    return (
        nb.crossJoin(ne)
        .crossJoin(nn)
        .select(
            "n_batch",
            "n_exact_dup",
            "n_near_dup",
            (
                F.col("n_batch") - F.col("n_exact_dup") - F.col("n_near_dup")
            ).alias("n_clean"),
        )
    )


# ---------------------------------------------------------------------------
# Banding design curve: expected recall/precision of each (bands, rows)
# MinHash config, ANALYTIC in the exact Jaccard — the sizing decision
# tool the recall audit motivates.  P(candidate | J) = 1 - (1 - J^r)^b
# is evaluated as LEFT-ASSOCIATIVE multiplication chains (no pow(), no
# exp() — libm is the one non-portable surface), rounded to 9 dp and
# integer-nano scaled before the cross-pair sums.

_BD_CONFIGS = [(32, 1), (16, 2), (8, 4), (4, 8)]


def _chain_sql(expr: str, n: int) -> str:
    """expr multiplied by itself n times, left-associative (matches the
    Spark Column * chain bit-for-bit)."""
    return "(" + " * ".join([expr] * n) + ")" if n > 1 else expr


def _banding_curve_sql() -> str:
    from ffiec_pq_spark.operators.text import shingles_sql
    from ffiec_pq_spark.queries.dedup import _K as _DK

    arms = []
    for b, r in _BD_CONFIGS:
        jr = _chain_sql("jx", r)
        q = f"(1.0 - {jr})"
        qb = _chain_sql(q, b)
        p_nano = f"CAST(round(round(1.0 - {qb}, 9) * 1e9, 0) AS BIGINT)"
        arms.append(
            f"""SELECT {b} AS n_bands, {r} AS rows_per_band,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN jx >= {_RC_TAU} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           round(CAST(sum(CASE WHEN jx >= {_RC_TAU} THEN {p_nano} ELSE 0 END)
                      AS DOUBLE)
                 / nullif(CAST(sum(CASE WHEN jx >= {_RC_TAU} THEN 1 ELSE 0 END)
                               AS DOUBLE), 0.0) / 1e9, 6) AS exp_recall,
           round(CAST(sum(CASE WHEN jx >= {_RC_TAU} THEN {p_nano} ELSE 0 END)
                      AS DOUBLE)
                 / nullif(CAST(sum({p_nano}) AS DOUBLE), 0.0), 6)
             AS exp_precision
    FROM scored"""
        )
    return f"""
    WITH reps AS (
      SELECT min(doc_id) AS id
      FROM (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch
        FROM documents
      ) GROUP BY ch
    ),
    docs2 AS (
      SELECT d.doc_id AS id, d.text
      FROM documents d JOIN reps r ON r.id = d.doc_id
    ),
    sh AS (
      SELECT id, unnest(list_distinct({shingles_sql('text', _DK)})) AS shingle
      FROM docs2
    ),
    sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a
      JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT n_common / (sa.set_size + sb.set_size - n_common) AS jx
      FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
    )
    {'''
    UNION ALL '''.join(arms)}"""


@register(
    "dedup_banding_design_curve",
    _banding_curve_sql(),
    tags=["dedup", "evaluation", "design"],
)
def dedup_banding_design_curve(spark, sf_dir):
    """Expected recall and precision of every candidate (n_bands,
    rows_per_band) MinHash config on THIS corpus's measured Jaccard
    distribution — P(candidate | J) = 1 - (1 - J^r)^b summed over the
    pairs sharing >= 1 shingle.  The analytic design tool that turns
    dedup_lsh_recall_eval's single-config audit into a config choice,
    WITHOUT building any signature: one shingle self-join feeds all
    four configs.

    Portability: the S-curve is evaluated as left-associative
    multiplication chains (never pow()/exp() — libm rounding differs
    across engines), rounded to 9 dp, integer-nano scaled before the
    cross-pair sums, ratios rounded at 6 dp; nullif guards the empty
    corpus (Spark 4 ANSI raises on 0/0).

    The shared per-pair jx relation is persisted (all four config arms
    read it); pinned until session GC — ``spark.catalog.clearCache()``
    between pipelines on long-lived drivers."""
    from ffiec_pq_spark.operators.dedup import doc_shingles, exact_dedup_groups
    from ffiec_pq_spark.queries.dedup import _K as _DK

    docs = load_table(spark, sf_dir, "documents")
    reps = exact_dedup_groups(docs).select(F.col("rep_id").alias("doc_id"))
    rd = docs.join(reps, "doc_id", "left_semi")
    sh = doc_shingles(rd, k=_DK)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    inter = (
        sh.select(F.col("id").alias("id_a"), "shingle")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jx = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    scored = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b")),
            "id_b",
        )
        .select(jx.alias("jx"))
        .persist()
    )

    def _chain(col, n):
        e = col
        for _ in range(n - 1):
            e = e * col
        return e

    rows = []
    for b, r in _BD_CONFIGS:
        p = F.lit(1.0) - _chain(F.lit(1.0) - _chain(F.col("jx"), r), b)
        nano = F.round(F.round(p, 9) * F.lit(1e9), 0).cast("long")
        is_true = F.col("jx") >= F.lit(_RC_TAU)
        rows.append(
            scored.agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(F.when(is_true, 1).otherwise(0))
                .cast("long")
                .alias("n_true"),
                F.sum(F.when(is_true, nano).otherwise(F.lit(0))).alias("_tn"),
                F.sum(nano).alias("_an"),
            ).select(
                F.lit(b).alias("n_bands"),
                F.lit(r).alias("rows_per_band"),
                "n_pairs",
                "n_true",
                F.round(
                    F.col("_tn").cast("double")
                    / F.nullif(F.col("n_true").cast("double"), F.lit(0.0))
                    / F.lit(1e9),
                    6,
                ).alias("exp_recall"),
                F.round(
                    F.col("_tn").cast("double")
                    / F.nullif(F.col("_an").cast("double"), F.lit(0.0)),
                    6,
                ).alias("exp_precision"),
            )
        )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out


# ---------------------------------------------------------------------------
# Cell-bounded kNN outlier scores, DEDUP-AWARE: identical vectors are
# collapsed to (rep, multiplicity) BEFORE the pair join — the same
# exact-duplicate collapse that keeps every other pairwise operator in
# this repo flat on duplicate-heavy corpora.  The weighted top-5 over
# (rep pairs + an implicit self row of m-1 zero-distance copies)
# reproduces the naive per-copy score multiset exactly: the score only
# depends on the 5 smallest neighbor distances, not on which duplicate
# ids carry them.

_OUT_KNN = 5
_OUT_TOPN = 10


def _knn_outlier_sql() -> str:
    """Replay: collapse to distinct vectors, train the Lloyd chain on
    the reps, within-cell rep pairs (nano distances, weight = target
    multiplicity) + self rows (nano 0, weight m-1), weighted top-5 via
    a window cumsum of integer weights, scores mapped back to every
    copy through the list-equality join."""
    k, iters = 4, 3
    ctes = [
        "vr AS (SELECT vec_id AS id, embedding AS v FROM embeddings)",
        "grp AS (SELECT v, min(id) AS rep, count(*) AS m FROM vr GROUP BY v)",
        """rex AS (
      SELECT rep, generate_subscripts(v, 1) AS i, unnest(v)::DOUBLE AS x
      FROM grp
    )""",
        f"""cent0 AS (
      SELECT CAST(dense_rank() OVER (ORDER BY rep) - 1 AS INTEGER) AS c,
             i, x AS v
      FROM rex
      WHERE rep IN (SELECT rep FROM grp ORDER BY rep LIMIT {k})
    )""",
    ]
    for it in range(iters + 1):
        ctes.append(
            f"""d{it} AS (
      SELECT e.rep, c.c, round(sum((e.x - c.v) * (e.x - c.v)), 9) AS d
      FROM rex e JOIN cent{it} c ON e.i = c.i
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"""asg{it} AS (
      SELECT rep, c FROM (
        SELECT rep, c,
               row_number() OVER (PARTITION BY rep ORDER BY d ASC, c ASC)
                 AS rn
        FROM d{it}
      ) WHERE rn = 1
    )"""
        )
        if it < iters:
            ctes.append(
                f"""upd{it} AS (
      SELECT a.c, e.i, avg(e.x) AS v
      FROM asg{it} a JOIN rex e ON e.rep = a.rep
      GROUP BY 1, 2
    )"""
            )
            ctes.append(
                f"""cent{it + 1} AS (
      SELECT p.c, p.i, coalesce(u.v, p.v) AS v
      FROM cent{it} p LEFT JOIN upd{it} u ON u.c = p.c AND u.i = p.i
    )"""
            )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    pd AS (
      SELECT a.rep AS ra, b.rep AS rb,
             CAST(round(round(sum((ea.x - eb.x) * (ea.x - eb.x)), 9) * 1e9,
                        0) AS BIGINT) AS nano,
             gb.m AS w
      FROM asg{iters} a
      JOIN asg{iters} b ON a.c = b.c AND a.rep != b.rep
      JOIN rex ea ON ea.rep = a.rep
      JOIN rex eb ON eb.rep = b.rep AND eb.i = ea.i
      JOIN grp gb ON gb.rep = b.rep
      GROUP BY 1, 2, gb.m
    ),
    nbr AS (
      SELECT ra, rb, nano, w FROM pd
      UNION ALL
      SELECT rep, rep, CAST(0 AS BIGINT), m - 1 FROM grp WHERE m >= 2
    ),
    cum AS (
      SELECT ra, nano, w,
             sum(w) OVER (PARTITION BY ra ORDER BY nano ASC, rb ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw
      FROM nbr
    ),
    sc AS (
      SELECT ra,
             sum(least(w, greatest(0, {_OUT_KNN} - (cw - w))) * nano) AS s,
             sum(least(w, greatest(0, {_OUT_KNN} - (cw - w)))) AS n
      FROM cum GROUP BY 1
    ),
    cp AS (SELECT vr.id, g.rep FROM vr JOIN grp g ON g.v = vr.v)
    SELECT cp.id,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e9, 6) AS knn_dist
    FROM sc JOIN cp ON cp.rep = sc.ra
    WHERE n > 0
    ORDER BY knn_dist DESC, cp.id ASC
    LIMIT {_OUT_TOPN}"""
    )


@register(
    "embedding_knn_outlier_scores",
    _knn_outlier_sql(),
    tags=["similarity", "curation", "iterative"],
)
def embedding_knn_outlier_scores(spark, sf_dir):
    """Top-10 embedding-space outliers: mean round(·, 9) squared
    distance to the 5 nearest neighbors within the vector's k-means
    cell — the data-cleaning audit (off-manifold / mislabeled docs
    surface at the top).

    Scale shape: identical vectors collapse to (rep, multiplicity)
    FIRST, so the within-cell pair join is quadratic only in DISTINCT
    vectors per cell (duplicates ride a weighted self row and a weight
    on the target side — the score multiset is exactly the naive
    one); the Lloyd trainer runs on reps; the weighted top-5 is a
    window cumsum of integer weights; the final top-N is a
    TakeOrderedAndProject.  At 100 TB the cell is the partition and
    k_co grows with the corpus, bounding distinct-per-cell."""
    from pyspark.sql import Window

    from ffiec_pq_spark.operators.kmeans import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    vr = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    grp = vr.groupBy("v").agg(
        F.min("id").alias("rep"), F.count(F.lit(1)).alias("m")
    )
    reps = grp.select(F.col("rep").alias("vec_id"), F.col("v").alias("embedding"))
    asg = kmeans_assignments(reps, k=4, dim=_DIM, iters=3).select(
        F.col("id").alias("rep"), "cell"
    )
    a = asg.join(grp.select("rep", "v", "m"), "rep")
    left = a.select(F.col("rep").alias("ra"), "cell", F.col("v").alias("va"))
    right = a.select(
        F.col("rep").alias("rb"), "cell", F.col("v").alias("vb"),
        F.col("m").alias("w"),
    )
    d = F.round(
        F.aggregate(
            F.zip_with(F.col("va"), F.col("vb"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ),
        9,
    )
    nano = F.round(d * F.lit(1e9), 0).cast("long")
    pd_ = (
        left.join(right, "cell")
        .filter(F.col("ra") != F.col("rb"))
        .select("ra", "rb", nano.alias("nano"), F.col("w").cast("long").alias("w"))
    )
    selfrows = grp.filter(F.col("m") >= 2).select(
        F.col("rep").alias("ra"),
        F.col("rep").alias("rb"),
        F.lit(0).cast("long").alias("nano"),
        (F.col("m") - 1).cast("long").alias("w"),
    )
    nbr = pd_.unionByName(selfrows)
    wspec = (
        Window.partitionBy("ra")
        .orderBy(F.col("nano").asc(), F.col("rb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cw = F.sum("w").over(wspec)
    take = F.least(
        F.col("w"),
        F.greatest(F.lit(0).cast("long"), F.lit(_OUT_KNN) - (cw - F.col("w"))),
    )
    sc = (
        nbr.select("ra", "nano", "w", take.alias("take"))
        .groupBy("ra")
        .agg(
            F.sum(F.col("take") * F.col("nano")).alias("s"),
            F.sum("take").alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    cp = vr.join(grp.select("v", "rep"), "v").select("id", "rep")
    return (
        sc.join(cp, sc["ra"] == cp["rep"])
        .select(
            "id",
            F.round(
                F.col("s").cast("double") / F.col("n").cast("double") / F.lit(1e9),
                6,
            ).alias("knn_dist"),
        )
        .orderBy(F.col("knn_dist").desc(), F.col("id").asc())
        .limit(_OUT_TOPN)
    )


# ---------------------------------------------------------------------------
# Multi-probe recall panel: recall@10 per probe over a deterministic
# 4-probe panel — the statistically meaningful form of the
# single-probe ann_pq_recall_at_k acceptance gate.

_PANEL = [
    [(((i * 7 + p * 13) % 11) - 5) / 4.0 for i in range(_DIM)]
    for p in range(4)
]


def _pq_recall_panel_sql(top_k: int = 10) -> str:
    ctes = _pq_ctes(_M, _SUB_DIM, _K, _ITERS)
    probe_arms = "\n      UNION ALL\n".join(
        "      SELECT {p} AS pid, generate_subscripts(q, 1) AS i, "
        "unnest(q)::DOUBLE AS x FROM (SELECT [{vals}]::DOUBLE[] AS q)".format(
            p=p, vals=", ".join(repr(float(x)) for x in probe)
        )
        for p, probe in enumerate(_PANEL)
    )
    pid_rows = ", ".join(f"({p})" for p in range(len(_PANEL)))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    qx AS (
{probe_arms}
    ),
    qsub AS (
      SELECT pid, CAST((i - 1) // {_SUB_DIM} AS INTEGER) AS sub,
             (i - 1) % {_SUB_DIM} AS j, x
      FROM qx
    ),
    lut AS (
      SELECT q.pid, c.sub, c.c,
             round(sum((q.x - c.v) * (q.x - c.v)), 9) AS d
      FROM cent{_ITERS} c JOIN qsub q ON q.sub = c.sub AND q.j = c.j
      GROUP BY 1, 2, 3
    ),
    adc_top AS (
      SELECT pid, vec_id FROM (
        SELECT l.pid, a.vec_id,
               row_number() OVER (
                 PARTITION BY l.pid
                 ORDER BY sum(CAST(round(l.d * 1e9, 0) AS BIGINT)) ASC,
                          a.vec_id ASC) AS rn
        FROM asg{_ITERS} a JOIN lut l ON l.sub = a.sub AND l.c = a.c
        GROUP BY 1, 2
      ) WHERE rn <= {top_k}
    ),
    exact_top AS (
      SELECT pid, vec_id FROM (
        SELECT q.pid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.pid
                 ORDER BY CAST(round(round(sum((e.x - q.x) * (e.x - q.x)),
                                           9) * 1e9, 0) AS BIGINT) ASC,
                          e.vec_id ASC) AS rn
        FROM ex e JOIN qx q ON q.i = e.i
        GROUP BY 1, 2
      ) WHERE rn <= {top_k}
    ),
    hits AS (
      SELECT pid, count(*) AS n_hit
      FROM adc_top JOIN exact_top USING (pid, vec_id)
      GROUP BY 1
    )
    SELECT p.pid AS probe_id, {top_k} AS k,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / {float(top_k)!r}, 6)
             AS recall
    FROM (VALUES {pid_rows}) p(pid)
    LEFT JOIN hits h ON h.pid = p.pid"""
    )


@register(
    "ann_pq_recall_panel",
    _pq_recall_panel_sql(),
    tags=["similarity", "quantize", "evaluation"],
)
def ann_pq_recall_panel(spark, sf_dir):
    """Recall@10 of the PQ/ADC index for each probe of a deterministic
    4-probe panel — the acceptance gate with enough probes to see
    variance (one probe's recall is a coin flip; the panel is the
    artifact an index team actually signs off on).

    Scale shape: codebooks fit ONCE; per probe the ADC ranking is one
    keyed integer-sum aggregation + per-probe window top-k over the
    shared code relation, the exact side is the afford-once brute
    scan, and each overlap join is k rows.

    The shared code relation is persisted (all four probe arms read
    it); pinned until session GC — ``spark.catalog.clearCache()``
    between pipelines on long-lived drivers."""
    from pyspark.sql import Window

    from ffiec_pq_spark.operators.pq import pq_codes, pq_fit

    top_k = 10
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=_M, sub_dim=_SUB_DIM, k=_K, iters=_ITERS)
    codes = pq_codes(emb, books).persist()

    rows = []
    for p, probe in enumerate(_PANEL):
        from ffiec_pq_spark.operators.pq import pq_adc_topk

        approx = pq_adc_topk(codes, books, probe, top_k=top_k).select("id")
        q_arr = double_array(probe)
        d_exact = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    q_arr,
                    lambda x, qv: (x - qv) * (x - qv),
                ),
                F.lit(0.0),
                lambda acc, e: acc + e,
            ),
            9,
        )
        nano = F.round(d_exact * F.lit(1e9), 0).cast("long")
        exact = (
            emb.select(F.col("vec_id").alias("id"), nano.alias("nano"))
            .orderBy(F.col("nano").asc(), F.col("id").asc())
            .limit(top_k)
            .select("id")
        )
        hit = approx.join(F.broadcast(exact), "id")
        rows.append(
            hit.agg(F.count(F.lit(1)).alias("n_hit")).select(
                F.lit(p).alias("probe_id"),
                F.lit(top_k).alias("k"),
                F.col("n_hit"),
                F.round(
                    F.col("n_hit").cast("double") / F.lit(float(top_k)), 6
                ).alias("recall"),
            )
        )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out
