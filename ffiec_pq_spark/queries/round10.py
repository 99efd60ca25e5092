"""Round-10 wave: production-parameter vector quantization.

- ``embedding_pq_codebook_k64`` — the k=64 PQ codebook train+encode
  rollup, exercising the Arrow-batched pandas-UDF assignment scorer
  (operators/pq.py::_make_assign_udf): the documented scale path for
  production codebooks (k=256, m=D/8), where the k·sub_dim-node
  literal assignment expression stops being viable.  Same Lloyd
  chain, same round(·, 9)/integer-nano float discipline as
  ``embedding_pq_codebook`` — only the assignment stage moves from a
  JVM literal expression to one vectorized numpy distance matrix per
  Arrow batch (codebook closure-captured; PySpark ships >1 MB pickled
  commands as broadcasts automatically).

Reference parity: the reference repo (iangow/ffiec.pq) has no vector
surface; this is the scale-extension ANN family's production
parameterization (VERDICT r9 "What's missing #1").

Float discipline (see round9c module docstring): distances round(·, 9)
in-engine before any cross-row reduction — the pandas path emulates
Spark's HALF_UP decimal rounding exactly (operators/pq.py::_np_round9)
so ties break identically on both engines; reductions are integer
nano-unit sums (order-independent).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.functions.lits import double_array
from ffiec_pq_spark.operators.pq import pq_codes, pq_fit
from ffiec_pq_spark.queries.round9c import _ITERS, _M, _SUB_DIM, _pq_ctes
from ffiec_pq_spark.session import load_table
from ffiec_pq_spark.streaming.state import drain, fold_workdir, stage_chunks

# Production-shaped codebook size: k=64 codes per subspace (6 bits of
# the one-byte production code space) — past the _EXPR_MAX_FLOATS
# switch, so assignment runs on the pandas-UDF path; m/sub_dim/iters
# match the certified k=4 query so the two rollups differ ONLY in the
# assignment path and k.
_K64 = 64


def _pq_codebook_k64_sql() -> str:
    ctes = _pq_ctes(_M, _SUB_DIM, _K64, _ITERS)
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
    "embedding_pq_codebook_k64",
    _pq_codebook_k64_sql(),
    tags=["similarity", "quantize", "iterative", "pandas-udf"],
)
def embedding_pq_codebook_k64(spark, sf_dir):
    """k=64 PQ codebook histogram + mean quantization error — the
    production-parameter assignment path (Arrow-batched numpy scorer).

    Scale shape: identical to embedding_pq_codebook except the
    assignment stage — one ArrowEvalPython map stage per Lloyd step
    (vectorized (rows × k) distance matrix per batch, no shuffle
    added), with the codebook shipped once per stage via the pickled
    command's automatic broadcast.  Still one groupBy(sub, cell) job
    per step, still a single m·k-group rollup, no join, no global
    sort.  Plan-pinned: tests/test_plans.py::
    test_pq_codebook_k64_single_arrow_stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=_M, sub_dim=_SUB_DIM, k=_K64, iters=_ITERS)
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


# ---------------------------------------------------------------------------
# embedding_pq_codebook_k256 — the FULL production parameterization
# (k=256 codes = one byte per subspace code, m = D/8 subspaces): the
# exact geometry a real 100 TB index build runs, exercised end-to-end
# through the pandas-UDF scorer (the literal-expression path stopped
# compiling in reasonable time at k=64 already — see _EXPR_MAX_FLOATS).

_M256 = 8          # D/8 subspaces at D=64
_SUB_DIM256 = 8
_K256 = 256        # one byte per code — the production code width
_ITERS256 = 2


def _pq_codebook_k256_sql() -> str:
    ctes = _pq_ctes(_M256, _SUB_DIM256, _K256, _ITERS256)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT sub, c AS cell, count(*) AS n,
           round(CAST(sum(CAST(round(d * 1e9, 0) AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1e9, 6) AS mean_err
    FROM asg{_ITERS256}
    GROUP BY 1, 2"""
    )


@register(
    "embedding_pq_codebook_k256",
    _pq_codebook_k256_sql(),
    tags=["similarity", "quantize", "iterative", "pandas-udf"],
)
def embedding_pq_codebook_k256(spark, sf_dir):
    """PQ codebook rollup at the PRODUCTION parameters: k=256 (one
    byte per code), m=D/8=8 subspaces of 8 dims — the geometry that
    makes a 100 TB embedding corpus fit in memory at 8 bytes/vector
    (256x compression over float32 at D=64).

    The assignment stage is the Arrow-batched numpy scorer for every
    Lloyd step and the final encode (2048 codebook floats — far past
    the expression path's viability; its compile cost alone measured
    45s at k=64).  Per batch: one (rows x 256) distance matrix per
    subspace, Spark-exact round(·, 9), ties to the lowest cell.  Plan
    shape is IDENTICAL to the k=4 rollup otherwise: one
    groupBy(sub, cell) job per step, one m·k-group final aggregate,
    no join, no global sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(
        emb, m=_M256, sub_dim=_SUB_DIM256, k=_K256, iters=_ITERS256
    )
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


# ---------------------------------------------------------------------------
# dedup_pq_semantic_buckets — SemDeDup at compression scale: vectors
# sharing their FULL m-code PQ tuple fall in one semantic bucket, so
# the near-dup prefilter reads m bytes per vector instead of the raw
# floats.  The bucket relation is exactly what a 100 TB semantic-dedup
# pass groups on before any within-bucket exact verification.

from ffiec_pq_spark.queries.round9c import _K  # noqa: E402  (k=4 geometry)


def _pq_buckets_sql() -> str:
    ctes = _pq_ctes(_M, _SUB_DIM, _K, _ITERS)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    keys AS (
      SELECT vec_id,
             string_agg(CAST(c AS VARCHAR), ',' ORDER BY sub) AS code_key
      FROM asg{_ITERS}
      GROUP BY vec_id
    )
    SELECT code_key,
           count(*)::BIGINT AS n_members,
           min(vec_id)::BIGINT AS rep_id
    FROM keys
    GROUP BY 1"""
    )


@register(
    "dedup_pq_semantic_buckets",
    _pq_buckets_sql(),
    tags=["dedup", "similarity", "quantize"],
)
def dedup_pq_semantic_buckets(spark, sf_dir):
    """Semantic near-dup buckets from PQ codes: vectors with an
    identical m-code tuple collapse to one bucket (code_key,
    n_members, rep_id = lowest member id).

    Scale story: this is the SemDeDup prefilter rebuilt on the
    COMPRESSED representation — the grouping key is m bytes (here
    "c0,c1,c2,c3"), so the shuffle moves 4 bytes of key per vector
    instead of the raw embedding, and the downstream exact
    verification only ever runs within a bucket.  Plan: encode is a
    pure projection (broadcast codebook literal at this k=4 geometry),
    one groupBy(id) to assemble the tuple (sort_array over the m
    structs — deterministic sub order), one groupBy(code_key) for the
    bucket rollup.  No join anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=_M, sub_dim=_SUB_DIM, k=_K, iters=_ITERS)
    codes = pq_codes(emb, books)
    key = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cell"))),
            lambda s: s["cell"].cast("string"),
        ),
    )
    return (
        codes.groupBy("id")
        .agg(key.alias("code_key"))
        .groupBy("code_key")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").alias("rep_id"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_heaps_law_curve — vocabulary growth vs corpus size (Heaps'
# law): distinct-token count at ingest checkpoints.  The
# "is more data still buying new vocabulary?" collection-planning
# artifact — the flattening point of this curve is when scraping more
# of the same source stops paying.

_HEAPS_BUCKETS = 8


def _heaps_sql() -> str:
    b = _HEAPS_BUCKETS
    tok = "unnest(string_split_regex(trim(text), '\\s+'))"
    return f"""
    WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
    tok AS (
      SELECT doc_id, {tok} AS tok FROM documents
    ),
    first_ AS (
      SELECT tok, min(doc_id) AS first_doc
      FROM tok WHERE tok <> '' GROUP BY tok
    ),
    newtok AS (
      SELECT CAST((first_doc * {b}) // (mx + 1) AS INTEGER) AS bucket,
             count(*) AS n_new_tokens
      FROM first_ CROSS JOIN mx
      GROUP BY 1
    ),
    docs_ AS (
      SELECT CAST((doc_id * {b}) // (mx + 1) AS INTEGER) AS bucket,
             count(*) AS n_docs
      FROM documents CROSS JOIN mx
      GROUP BY 1
    )
    SELECT d.bucket,
           CAST(sum(d.n_docs) OVER w AS BIGINT) AS n_docs_cum,
           CAST(coalesce(n.n_new_tokens, 0) AS BIGINT) AS n_new_tokens,
           CAST(sum(coalesce(n.n_new_tokens, 0)) OVER w AS BIGINT)
             AS n_vocab_cum,
           round(CAST(sum(coalesce(n.n_new_tokens, 0)) OVER w AS DOUBLE)
                 / nullif(CAST(sum(d.n_docs) OVER w AS DOUBLE), 0.0),
                 6) AS vocab_per_doc
    FROM docs_ d LEFT JOIN newtok n ON n.bucket = d.bucket
    WINDOW w AS (ORDER BY d.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


@register(
    "corpus_heaps_law_curve",
    _heaps_sql(),
    tags=["text", "corpus", "analytics"],
)
def corpus_heaps_law_curve(spark, sf_dir):
    """Heaps'-law vocabulary growth curve: the corpus in doc-id order
    split into equal-width ingest checkpoints; per checkpoint the NEW
    distinct tokens (first occurrence in that bucket), the cumulative
    vocabulary, and vocabulary-per-document.

    Scale shape: one explode + one groupBy(token) min-aggregate (the
    only data-sized shuffle — map-side combined, keyed on the token),
    then everything is B-row arithmetic: the bucket rollups are
    B-group aggregates, the cumulative sums are a window over B rows
    (bounded — never a data-sized window), and the max-id scalar rides
    a broadcast cross join.  Integer bucket math ((id*B) DIV (max+1))
    is exact on both engines; the single ratio is nullif-guarded."""
    from ffiec_pq_spark.operators.text import tokens

    b = _HEAPS_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("mx"))
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    first = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    bucket_of = lambda c: F.expr(f"CAST(({c} * {b}) DIV (mx + 1) AS INT)")
    newtok = (
        first.crossJoin(F.broadcast(mx))
        .select(bucket_of("first_doc").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_new_tokens"))
    )
    docs_b = (
        docs.crossJoin(F.broadcast(mx))
        .select(bucket_of("doc_id").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = docs_b.join(newtok, "bucket", "left").select(
        "bucket",
        "n_docs",
        F.coalesce(F.col("n_new_tokens"), F.lit(0)).alias("n_new_tokens"),
    )
    return joined.select(
        "bucket",
        F.sum("n_docs").over(w).alias("n_docs_cum"),
        F.col("n_new_tokens").cast("long").alias("n_new_tokens"),
        F.sum("n_new_tokens").over(w).alias("n_vocab_cum"),
        F.round(
            F.sum("n_new_tokens").over(w).cast("double")
            / F.nullif(
                F.sum("n_docs").over(w).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("vocab_per_doc"),
    )


# ---------------------------------------------------------------------------
# stream_pq_encode — the PQ encode stage as a Structured Streaming
# micro-batch job at production codebook size: each arriving batch is
# scored by the SAME pandas-UDF path the batch encode uses, and codes
# append to the state sink.  Encoding is stateless per row, so the
# drained state is batch-order-invariant and hash-equals the batch
# chain — proving the Arrow scorer drops into foreachBatch unchanged
# (the continuous-ingest shape of a production index build).


def _stream_pq_encode_sql() -> str:
    ctes = _pq_ctes(_M, _SUB_DIM, _K64, _ITERS)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT vec_id AS id, sub, c AS cell
    FROM asg{_ITERS}"""
    )


@register(
    "stream_pq_encode",
    _stream_pq_encode_sql(),
    tags=["streaming", "quantize", "pandas-udf"],
)
def stream_pq_encode(spark, sf_dir):
    """Streaming PQ encode with the k=64 pandas-UDF scorer: stage the
    embeddings as four files, stream them with maxFilesPerTrigger=1,
    encode each micro-batch with the prefit codebooks (the scorer is a
    per-row pure function — no state, no watermark), append (id, sub,
    cell) to the parquet state, drain.

    INTEGER-only output (the round(·, 9) distance stays internal), so
    the cross-engine hash has zero float surface.  The drain equals
    the batch encode for ANY batch order — certified against the same
    Lloyd-chain oracle as embedding_pq_codebook_k64."""
    import os

    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=_M, sub_dim=_SUB_DIM, k=_K64, iters=_ITERS)
    with fold_workdir("pq_encode", one_off=True) as workdir:
        src = stage_chunks(emb, F.pmod(F.col("vec_id"), F.lit(4)), 4, workdir)
        state_dir = os.path.join(workdir, "codes")

        def encode_batch(batch_df, epoch_id):
            pq_codes(batch_df, books).select("id", "sub", "cell").write.mode(
                "append"
            ).parquet(state_dir)

        drain(spark, src, emb.schema, encode_batch, workdir)
        return spark.read.parquet(state_dir).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# ann_ivf_incremental_newvecs — IVF index maintenance for continuous
# ingest: a new vector batch is assigned to the FROZEN coarse
# quantizer (trained on the existing corpus only), and the per-cell
# report compares corpus vs batch occupancy and quantization error.
# This is the "do we need to retrain the index?" artifact: a cell
# whose batch share balloons, or whose batch-side error is far above
# its corpus-side error, means the ingest distribution drifted off the
# trained centroids.  Asymmetric like dedup_incremental_newbatch —
# daily cost touches the model (k x dim floats) plus the batch, never
# retrains on the corpus.

_INCV_MOD = 5          # vec_id % 5 == 4 -> "new batch" (~20%)
_INCV_K = 4
_INCV_ITERS = 2


def _ivf_incremental_sql() -> str:
    """Corpus-only Lloyd chain (the frozen model), then ONE assignment
    of every vector with its round(·, 9) distance, rolled up per cell
    by split.  Same CTE conventions as queries/similarity._kmeans_ctes
    with the training relation filtered to the corpus."""
    k, iters, mod = _INCV_K, _INCV_ITERS, _INCV_MOD
    ctes = [
        f"""emb_c AS (
      SELECT * FROM embeddings WHERE vec_id % {mod} < {mod - 1}
    )""",
        """ex_c AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM emb_c
    )""",
        f"""cent0 AS (
      SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c,
             i, x AS v
      FROM ex_c
      WHERE vec_id IN (SELECT vec_id FROM emb_c ORDER BY vec_id LIMIT {k})
    )""",
    ]
    for it in range(iters):
        ctes.append(
            f"""d{it} AS (
      SELECT e.vec_id, c.c, round(sum((e.x - c.v) * (e.x - c.v)), 9) AS d
      FROM ex_c e JOIN cent{it} c ON e.i = c.i
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"""asg{it} AS (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, c ASC) AS rn
        FROM d{it}
      ) WHERE rn = 1
    )"""
        )
        ctes.append(
            f"""upd{it} AS (
      SELECT a.c, e.i, avg(e.x) AS v
      FROM asg{it} a JOIN ex_c e ON e.vec_id = a.vec_id
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"""cent{it + 1} AS (
      SELECT p.c, p.i, coalesce(u.v, p.v) AS v
      FROM cent{it} p
      LEFT JOIN upd{it} u ON u.c = p.c AND u.i = p.i
    )"""
        )
    ctes.append(
        f"""ex_all AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings
    )""",
    )
    ctes.append(
        f"""d_all AS (
      SELECT e.vec_id, c.c, round(sum((e.x - c.v) * (e.x - c.v)), 9) AS d
      FROM ex_all e JOIN cent{iters} c ON e.i = c.i
      GROUP BY 1, 2
    )"""
    )
    ctes.append(
        """a_all AS (
      SELECT vec_id, c, d FROM (
        SELECT vec_id, c, d,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, c ASC) AS rn
        FROM d_all
      ) WHERE rn = 1
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT c AS ccell,
           CAST(sum(CASE WHEN vec_id % {mod} < {mod - 1} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corpus,
           CAST(sum(CASE WHEN vec_id % {mod} = {mod - 1} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_batch,
           round(CAST(sum(CASE WHEN vec_id % {mod} < {mod - 1}
                          THEN CAST(round(d * 1e9, 0) AS BIGINT)
                          ELSE 0 END) AS DOUBLE)
                 / nullif(CAST(sum(CASE WHEN vec_id % {mod} < {mod - 1}
                               THEN 1 ELSE 0 END) AS DOUBLE), 0.0)
                 / 1e9, 6) AS mean_err_corpus,
           round(CAST(sum(CASE WHEN vec_id % {mod} = {mod - 1}
                          THEN CAST(round(d * 1e9, 0) AS BIGINT)
                          ELSE 0 END) AS DOUBLE)
                 / nullif(CAST(sum(CASE WHEN vec_id % {mod} = {mod - 1}
                               THEN 1 ELSE 0 END) AS DOUBLE), 0.0)
                 / 1e9, 6) AS mean_err_batch
    FROM a_all
    GROUP BY 1"""
    )


@register(
    "ann_ivf_incremental_newvecs",
    _ivf_incremental_sql(),
    tags=["similarity", "incremental", "monitoring"],
)
def ann_ivf_incremental_newvecs(spark, sf_dir):
    """IVF maintenance report for a new ingest batch under the FROZEN
    coarse quantizer: per cell, corpus vs batch member counts and mean
    round(·, 9) quantization error (integer nano sums, nullif-guarded
    means — a cell can be empty on either side).

    The asymmetric scale shape: the model is trained ONCE on the
    corpus (k·dim floats — in production it is already on disk), the
    daily job touches the batch rows plus one broadcast-literal
    assignment projection over the full relation and a single k-group
    rollup.  Batch-side error spiking above corpus-side error in a
    cell IS the drift signal that triggers retraining — the monitoring
    artifact an index team watches, not a one-shot build."""
    from ffiec_pq_spark.operators.kmeans import _sq_dist, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter((F.col("vec_id") % _INCV_MOD) < _INCV_MOD - 1)
    cents = kmeans_fit(corpus, k=_INCV_K, dim=64, iters=_INCV_ITERS)
    entries = [
        F.struct(
            _sq_dist(F.col("embedding"), c).alias("d"),
            F.lit(j).alias("j"),
        )
        for j, c in enumerate(cents)
    ]
    a = F.array_min(F.array(*entries))
    is_batch = (F.col("vec_id") % _INCV_MOD) == _INCV_MOD - 1
    nano = F.round(a["d"] * F.lit(1e9), 0).cast("long")
    scored = emb.select(
        a["j"].alias("ccell"),
        is_batch.cast("int").alias("b"),
        nano.alias("nano"),
    )
    mean_of = lambda flag: F.round(
        F.sum(F.when(F.col("b") == flag, F.col("nano")).otherwise(F.lit(0)))
        .cast("double")
        / F.nullif(
            F.sum(F.when(F.col("b") == flag, 1).otherwise(0)).cast("double"),
            F.lit(0.0),
        )
        / F.lit(1e9),
        6,
    )
    return scored.groupBy("ccell").agg(
        F.sum(F.when(F.col("b") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_corpus"),
        F.sum(F.when(F.col("b") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_batch"),
        mean_of(0).alias("mean_err_corpus"),
        mean_of(1).alias("mean_err_batch"),
    )


# ---------------------------------------------------------------------------
# embedding_isotropy_datacard — the embedding-quality gate before any
# ANN/dedup trust: per-dimension variance spread and participation
# ratio (effective dimensionality).  Collapsed/anisotropic embeddings
# (a few dims carry all the variance) break cosine-based dedup and
# IVF partitioning long before recall metrics say so.

def _isotropy_sql() -> str:
    return """
    WITH ex AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings
    ),
    dims AS (
      SELECT i,
             round((sum(x * x) - sum(x) * sum(x) / count(*))
                   / count(*), 6) AS dim_var
      FROM ex GROUP BY i
    ),
    norms AS (
      SELECT vec_id, round(sum(x * x), 6) AS sq_norm FROM ex GROUP BY vec_id
    )
    SELECT (SELECT count(*) FROM norms)::BIGINT AS n_vecs,
           round((SELECT avg(sq_norm) FROM norms), 6) AS mean_sq_norm,
           round((SELECT min(dim_var) FROM dims), 6) AS var_min,
           round((SELECT max(dim_var) FROM dims), 6) AS var_max,
           round((SELECT sum(dim_var) * sum(dim_var)
                         / nullif(sum(dim_var * dim_var), 0.0)
                  FROM dims), 6) AS participation_ratio
    """


@register(
    "embedding_isotropy_datacard",
    _isotropy_sql(),
    tags=["similarity", "quality", "monitoring"],
)
def embedding_isotropy_datacard(spark, sf_dir):
    """One-row embedding datacard: vector count, mean SQUARED norm
    (libm-free — no sqrt anywhere), per-dimension variance min/max,
    and the participation ratio (Σvar)²/Σvar² — effective
    dimensionality out of d; ~d means isotropic, ~1 means collapsed.

    Float discipline: per-dim variance = (Σx² − (Σx)²/n)/n with the
    identical association on both engines, rounded to 6 dp BEFORE the
    participation-ratio reduction (so that ratio is a deterministic
    function of d=64 pinned doubles); sq_norm rounded per vector
    before the mean.  Scale shape: one explode + one groupBy(dim)
    (64 groups, map-side combined) + one groupBy(vec) for norms — no
    join wider than the three scalar combines."""
    ex = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    )
    dims = ex.groupBy("i").agg(
        F.round(
            (
                F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x") / F.count(F.lit(1))
            )
            / F.count(F.lit(1)),
            6,
        ).alias("dim_var")
    )
    norms = ex.groupBy("vec_id").agg(
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sq_norm")
    )
    n_row = norms.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("sq_norm"), 6).alias("mean_sq_norm"),
    )
    d_row = dims.agg(
        F.round(F.min("dim_var"), 6).alias("var_min"),
        F.round(F.max("dim_var"), 6).alias("var_max"),
        F.round(
            F.sum("dim_var")
            * F.sum("dim_var")
            / F.nullif(
                F.sum(F.col("dim_var") * F.col("dim_var")), F.lit(0.0)
            ),
            6,
        ).alias("participation_ratio"),
    )
    return n_row.crossJoin(F.broadcast(d_row)).select(
        "n_vecs", "mean_sq_norm", "var_min", "var_max",
        "participation_ratio",
    )


# ---------------------------------------------------------------------------
# dedup_drop_bias_by_source — the governance artifact for dedup's side
# effect on the training MIXTURE: exact dedup keeps the lowest-id copy
# corpus-wide, so a source whose content is mostly mirrored elsewhere
# loses disproportionally and the post-dedup source mixture silently
# shifts away from the curated weights.  Per source: volume, dropped
# count, drop rate.

_DROP_NORM_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


def _drop_bias_sql() -> str:
    return f"""
    WITH h AS (
      SELECT doc_id, source, {_DROP_NORM_SQL} AS ch FROM documents
    ),
    k AS (SELECT ch, min(doc_id) AS keep_id FROM h GROUP BY ch)
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)::BIGINT
             AS n_dropped,
           round(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS drop_pct
    FROM h JOIN k USING (ch)
    GROUP BY source
    """


@register(
    "dedup_drop_bias_by_source",
    _drop_bias_sql(),
    tags=["dedup", "governance", "curation"],
)
def dedup_drop_bias_by_source(spark, sf_dir):
    """Per-source drop rate under corpus-wide normalized-exact dedup
    (keep = lowest doc_id per content hash): (source, n_docs,
    n_dropped, drop_pct).  A source with an outlier drop_pct is being
    rewritten out of the mixture by dedup — the check every curation
    pipeline runs before trusting post-dedup source weights.

    Scale shape: one grouped min on the content hash (map-side
    combined) + one hash-keyed equi-join back (same key, same
    partitioning — AQE reuses the exchange) + one source rollup.  The
    join key is the 32-char hash, never the text."""
    from ffiec_pq_spark.operators.text import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "source", fingerprint_md5("text").alias("ch")
    )
    keep = h.groupBy("ch").agg(F.min("doc_id").alias("keep_id"))
    dropped = (F.col("doc_id") != F.col("keep_id")).cast("int")
    return (
        h.join(keep, "ch")
        .select("source", dropped.alias("dropped"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.round(
                F.sum("dropped").cast("double") / F.count(F.lit(1)), 6
            ).alias("drop_pct"),
        )
    )


# ---------------------------------------------------------------------------
# ann_ivfpq_nprobe_recall_curve — the OTHER index-design knob: recall
# vs scan cost as nprobe sweeps 1..k_coarse.  dedup_banding_design_curve
# sizes the LSH config; this sizes the IVF config — the artifact that
# turns "nprobe=2" from folklore into a measured recall/cost point.

_NPROBE_SWEEP = [1, 2, 3, 4]


def _ivfpq_nprobe_curve_sql(top_k: int = 10) -> str:
    from ffiec_pq_spark.queries.round9c import _ivfpq_chain_ctes

    ctes, T, T2 = _ivfpq_chain_ctes()
    nps = ", ".join(str(n) for n in _NPROBE_SWEEP)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    pr AS (
      SELECT c, row_number() OVER (ORDER BY d ASC, c ASC) AS rn FROM qcd
    ),
    qres AS (
      SELECT p.c AS ccell, q.i, round(q.x - c.v, 9) AS x
      FROM pr p JOIN co_cent{T} c ON c.c = p.c JOIN qx q ON q.i = c.i
    ),
    qrsx AS (
      SELECT ccell, CAST((i - 1) // {_SUB_DIM} AS INTEGER) AS sub,
             (i - 1) % {_SUB_DIM} AS j, x
      FROM qres
    ),
    lut AS (
      SELECT r.ccell, pc.sub, pc.c,
             round(sum((r.x - pc.v) * (r.x - pc.v)), 9) AS d
      FROM qrsx r JOIN pq_cent{T2} pc ON pc.sub = r.sub AND pc.j = r.j
      GROUP BY 1, 2, 3
    ),
    vec_adc AS (
      SELECT a.vec_id, p.rn AS cell_rn,
             sum(CAST(round(l.d * 1e9, 0) AS BIGINT)) AS nano
      FROM pq_asg{T2} a
      JOIN co_asg{T} ca ON ca.vec_id = a.vec_id
      JOIN pr p ON p.c = ca.c
      JOIN lut l ON l.ccell = ca.c AND l.sub = a.sub AND l.c = a.c
      GROUP BY 1, 2
    ),
    nps AS (SELECT unnest([{nps}]) AS np),
    ranked AS (
      SELECT n.np, v.vec_id,
             row_number() OVER (PARTITION BY n.np
                                ORDER BY v.nano ASC, v.vec_id ASC) AS rk
      FROM nps n JOIN vec_adc v ON v.cell_rn <= n.np
    ),
    scanned AS (
      SELECT n.np, count(*) AS n_scanned
      FROM nps n JOIN vec_adc v ON v.cell_rn <= n.np
      GROUP BY 1
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
    SELECT r.np AS nprobe,
           CAST(s.n_scanned AS BIGINT) AS n_scanned,
           round(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / {float(top_k)!r}, 6) AS recall_at_{top_k}
    FROM ranked r
    LEFT JOIN exact_top e ON e.vec_id = r.vec_id
    JOIN scanned s ON s.np = r.np
    WHERE r.rk <= {top_k}
    GROUP BY 1, 2"""
    )


@register(
    "ann_ivfpq_nprobe_recall_curve",
    _ivfpq_nprobe_curve_sql(),
    tags=["similarity", "quantize", "evaluation", "design"],
)
def ann_ivfpq_nprobe_recall_curve(spark, sf_dir):
    """Recall@10 and scan cost of the IVF-PQ index at every nprobe in
    the sweep: (nprobe, n_scanned, recall_at_10).  The IVF analogue of
    the LSH banding design curve — pick the cheapest nprobe above the
    recall target instead of guessing.

    SINGLE-PASS sweep (round 11 — the cutoff-ladder pattern from the
    vocab coverage curves): the probed sets are NESTED (nprobe=1 is a
    prefix of nprobe=2 ...), so instead of one probe/agg lineage per
    sweep point (the round-10 shape, 22.8s), score every code against
    the probe ONCE, tag each vector with its coarse cell's probe-rank,
    and read the whole curve out of rank<=nprobe gates:

    - scan costs: ONE conditional aggregate over the per-vector ADC
      relation (sum of each gate);
    - recalls: an exact top-k membership test without any per-gate
      sort — vector v is in gate g's ADC top-k iff rank(v) <= g AND
      fewer than k in-gate vectors order strictly before it, so ONE
      aggregate over the (per-vector ADC x broadcast 10-row exact
      top-k) join counts, for each exact id and every gate, its
      strictly-smaller in-gate rows; aggregate count is independent of
      sweep length (plan-pinned).

    The index itself (coarse fit + residuals + codebooks) is the
    process-resident ``_ivfpq_model`` shared with
    ``ann_ivfpq_residual_topk`` — one deployment, one index, every
    evaluation runs against it.  Same integer nano distance discipline
    as the whole PQ family; persists stay pinned until session GC
    (``spark.catalog.clearCache()`` between pipelines).

    Ledger-seconds caveat: the certification time for this entry is
    ORACLE-dominated — DuckDB's replay of the two unrolled Lloyd
    chains costs 13.6-25 s alone at sf0.01 (measured round 11), while
    the Spark side is 12.2 s cold (shared index training, paid once
    per session) and 3.4 s warm.  The round-10 per-point shape was
    22.8 s of which the sweep itself multiplied full probe/agg
    lineages; that multiplication is what this rewrite removed."""
    from ffiec_pq_spark.operators.pq import ivfpq_adc_nano_expr
    from ffiec_pq_spark.queries.round9c import _ivfpq_serve_state
    from ffiec_pq_spark.queries.similarity import _PROBE

    top_k = 10
    emb = load_table(spark, sf_dir, "embeddings")
    st = _ivfpq_serve_state(spark, sf_dir)
    coarse, books, codes = st["coarse"], st["books"], st["codes"]

    # rank[cell] = 1-based probe-distance rank of the coarse cell
    order = st["ranks"]
    rank_arr = [0] * len(order)
    for r, c in enumerate(order):
        rank_arr[c] = r + 1
    rank = F.element_at(
        F.array(*[F.lit(r) for r in rank_arr]), F.col("ccell") + 1
    )

    # per-vector ADC distance + cell rank, computed ONCE for ALL cells
    nano = ivfpq_adc_nano_expr(coarse, books, _PROBE)
    adc = (
        codes.select("id", "ccell", nano.alias("nano"))
        .groupBy("id")
        .agg(
            F.sum("nano").alias("nano"),
            # an id lives in exactly one coarse cell; min() just picks
            # that constant without widening the grouping key
            F.min("ccell").alias("ccell"),
        )
        .select("id", "nano", rank.alias("rk"))
        .persist()
    )

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
    exact = (
        emb.select(
            F.col("vec_id").alias("id"),
            F.round(d_exact * F.lit(1e9), 0).cast("long").alias("nano"),
        )
        .orderBy(F.col("nano").asc(), F.col("id").asc())
        .limit(top_k)
        .select("id")
    )

    # the 10 exact neighbours WITH their ADC stats (broadcast side)
    ex = adc.join(F.broadcast(exact), "id").select(
        F.col("id").alias("e_id"),
        F.col("nano").alias("e_nano"),
        F.col("rk").alias("e_rk"),
    )

    # ONE ladder aggregate: for each exact id and every gate, how many
    # in-gate vectors order strictly before it ((nano, id) total order)
    smaller = (F.col("nano") < F.col("e_nano")) | (
        (F.col("nano") == F.col("e_nano")) & (F.col("id") < F.col("e_id"))
    )
    ladder = (
        adc.crossJoin(F.broadcast(ex))
        .groupBy("e_id", "e_rk")
        .agg(
            *[
                F.sum(
                    F.when((F.col("rk") <= np_) & smaller, 1).otherwise(0)
                ).alias(f"sm{np_}")
                for np_ in _NPROBE_SWEEP
            ]
        )
    )
    recalls = ladder.agg(
        *[
            F.round(
                F.sum(
                    F.when(
                        (F.col("e_rk") <= np_)
                        & (F.col(f"sm{np_}") < top_k),
                        1,
                    ).otherwise(0)
                ).cast("double")
                / F.lit(float(top_k)),
                6,
            ).alias(f"r{np_}")
            for np_ in _NPROBE_SWEEP
        ]
    )
    # ONE conditional aggregate for every gate's scan cost
    scans = adc.agg(
        *[
            F.sum((F.col("rk") <= np_).cast("long")).alias(f"ns{np_}")
            for np_ in _NPROBE_SWEEP
        ]
    )
    curve = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(np_).alias("nprobe"),
                    F.col(f"ns{np_}").alias("n_scanned"),
                    F.col(f"r{np_}").alias(f"recall_at_{top_k}"),
                )
                for np_ in _NPROBE_SWEEP
            ]
        )
    )
    return (
        recalls.crossJoin(F.broadcast(scans))
        .select(curve.alias("pt"))
        .select("pt.nprobe", "pt.n_scanned", f"pt.recall_at_{top_k}")
    )


# ---------------------------------------------------------------------------
# corpus_curation_funnel_by_source — the per-source survival funnel of
# the exact curation pipeline (lang-ID + quality filter, then exact
# dedup): how many documents and TOKENS each source actually
# contributes to training after curation.  The artifact behind every
# "we trained on N tokens" claim — and the companion to
# dedup_drop_bias_by_source (which isolates the dedup stage; this
# composes all stages, formula-shared with curation_pipeline via
# queries/curation._scored_exprs so the two can never drift apart).


def _funnel_sql() -> str:
    from ffiec_pq_spark.queries.curation import _scored_exprs

    e = _scored_exprs()
    return f"""
    WITH scored AS (
      SELECT doc_id, source,
             len({e['tok']})   AS n_tokens,
             {e['quality']}    AS quality,
             {e['lang_case']}  AS lang_guess,
             md5({e['norm']})  AS fp
      FROM documents
    ),
    filtered AS (
      SELECT * FROM scored WHERE lang_guess = 'en' AND quality >= 0.3
    ),
    reps AS (SELECT fp, min(doc_id) AS keep_id FROM filtered GROUP BY fp),
    kept AS (
      SELECT f.source, f.n_tokens
      FROM filtered f JOIN reps r
        ON r.fp = f.fp AND r.keep_id = f.doc_id
    ),
    raw AS (SELECT source, count(*) AS n_raw FROM scored GROUP BY source),
    filt AS (
      SELECT source, count(*) AS n_filtered FROM filtered GROUP BY source
    ),
    keptagg AS (
      SELECT source, count(*) AS n_kept,
             sum(n_tokens) AS tokens_kept
      FROM kept GROUP BY source
    )
    SELECT r.source,
           CAST(r.n_raw AS BIGINT) AS n_raw,
           CAST(coalesce(f.n_filtered, 0) AS BIGINT) AS n_filtered,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(k.tokens_kept, 0) AS BIGINT) AS tokens_kept,
           round(CAST(coalesce(k.n_kept, 0) AS DOUBLE) / r.n_raw, 6)
             AS survival_pct
    FROM raw r
    LEFT JOIN filt f ON f.source = r.source
    LEFT JOIN keptagg k ON k.source = r.source
    """


@register(
    "corpus_curation_funnel_by_source",
    _funnel_sql(),
    tags=["curation", "governance", "corpus"],
)
def corpus_curation_funnel_by_source(spark, sf_dir):
    """Per-source curation funnel: raw documents -> lang+quality
    filtered -> exact-dedup kept, with the surviving TOKEN budget —
    (source, n_raw, n_filtered, n_kept, tokens_kept, survival_pct).

    Exactly the curation_pipeline stages (the scoring SQL is
    literally shared — queries/curation._scored_exprs), re-aggregated
    as the reporting artifact: which sources the pipeline is actually
    spending, and how many training tokens remain per source.

    Scale shape: one pass computes every per-doc score (Catalyst
    projects the token array once), the dedup keeper is a grouped min
    on the content hash + a hash-keyed join (same key partitioning),
    then three source rollups joined on the tiny source dimension."""
    from ffiec_pq_spark.operators.text import (
        LANG_MARKERS,
        fingerprint_md5,
        lang_scores_tok,
        quality_score_tok,
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    toksdf = d.select(
        "doc_id", "source", "text", tokens("text").alias("toks")
    )
    scores = lang_scores_tok(F.col("toks"))
    greatest = F.greatest(*scores.values())
    lang_expr = None
    for lang in LANG_MARKERS:
        cond = scores[lang] == greatest
        lang_expr = (
            F.when(cond, lang)
            if lang_expr is None
            else lang_expr.when(cond, lang)
        )
    scored = toksdf.select(
        "doc_id",
        "source",
        F.size("toks").alias("n_tokens"),
        quality_score_tok(F.col("toks"), "text").alias("quality"),
        lang_expr.alias("lang_guess"),
        fingerprint_md5("text").alias("fp"),
    )
    filtered = scored.filter(
        (F.col("lang_guess") == "en") & (F.col("quality") >= 0.3)
    )
    reps = filtered.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    kept = filtered.join(
        reps,
        (filtered.fp == reps.fp) & (filtered.doc_id == reps.keep_id),
    ).select("source", "n_tokens")
    raw = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    filt = filtered.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_filtered")
    )
    keptagg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )
    return (
        raw.join(filt, "source", "left")
        .join(keptagg, "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("long"),
            F.coalesce(F.col("n_filtered"), F.lit(0))
            .cast("long")
            .alias("n_filtered"),
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(F.col("tokens_kept"), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
            F.round(
                F.coalesce(F.col("n_kept"), F.lit(0)).cast("double")
                / F.col("n_raw"),
                6,
            ).alias("survival_pct"),
        )
    )


# ---------------------------------------------------------------------------
# ann_pq_compression_recall_curve — the THIRD design curve, on the
# compression axis: recall@10 of the PQ/ADC index at increasing
# codebook sizes (k=4 -> 16 -> 64 at fixed m), against one shared
# brute-force truth.  Together with dedup_banding_design_curve (LSH
# band/row split) and ann_ivfpq_nprobe_recall_curve (IVF scan width)
# this closes the index-design loop: bytes-per-vector vs recall is THE
# sizing decision of a 100 TB embedding store.

_COMP_KS = [4, 16, 64]

from ffiec_pq_spark.queries.similarity import _PROBE  # noqa: E402
from ffiec_pq_spark.operators.pq import pq_adc_topk  # noqa: E402


def _pq_compression_curve_sql(top_k: int = 10) -> str:
    import math

    ctes: list[str] = []
    arms = []
    for kk in _COMP_KS:
        P = f"g{kk}_"
        ctes.extend(_pq_ctes(_M, _SUB_DIM, kk, _ITERS, prefix=P))
        ctes.append(
            f"""{P}qsub AS (
      SELECT CAST((i - 1) // {_SUB_DIM} AS INTEGER) AS sub,
             (i - 1) % {_SUB_DIM} AS j, x
      FROM qx
    )"""
        )
        ctes.append(
            f"""{P}lut AS (
      SELECT c.sub, c.c, round(sum((q.x - c.v) * (q.x - c.v)), 9) AS d
      FROM {P}cent{_ITERS} c
      JOIN {P}qsub q ON q.sub = c.sub AND q.j = c.j
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"""{P}top AS (
      SELECT a.vec_id
      FROM {P}asg{_ITERS} a JOIN {P}lut l ON l.sub = a.sub AND l.c = a.c
      GROUP BY a.vec_id
      ORDER BY sum(CAST(round(l.d * 1e9, 0) AS BIGINT)) ASC, a.vec_id ASC
      LIMIT {top_k}
    )"""
        )
        bits = _M * int(math.log2(kk))
        arms.append(
            f"""SELECT {kk} AS k, {bits} AS bits_per_vec,
           round((SELECT count(*)
                  FROM {P}top t JOIN exact_top e USING (vec_id))::DOUBLE
                 / {float(top_k)!r}, 6) AS recall_at_{top_k}"""
        )
    probe_lit = (
        "[" + ", ".join(repr(float(x)) for x in _PROBE) + "]::DOUBLE[]"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    qx AS (
      SELECT generate_subscripts(q, 1) AS i, unnest(q)::DOUBLE AS x
      FROM (SELECT {probe_lit} AS q)
    ),
    exact_d AS (
      SELECT e.vec_id, round(sum((e.x - q.x) * (e.x - q.x)), 9) AS d
      FROM g4_ex e JOIN qx q ON q.i = e.i
      GROUP BY 1
    ),
    exact_top AS (
      SELECT vec_id FROM exact_d
      ORDER BY CAST(round(d * 1e9, 0) AS BIGINT) ASC, vec_id ASC
      LIMIT {top_k}
    )
    """
        + "\n    UNION ALL\n    ".join(arms)
    )


@register(
    "ann_pq_compression_recall_curve",
    _pq_compression_curve_sql(),
    tags=["similarity", "quantize", "evaluation", "design"],
)
def ann_pq_compression_recall_curve(spark, sf_dir):
    """Recall@10 vs code size: (k, bits_per_vec, recall_at_10) for
    each codebook size in the sweep, fixed m.  The compression-axis
    design curve — how many bits per vector the corpus actually needs
    before recall collapses.

    Scale shape: the subvector relation is derived once per geometry
    from the same scan; each arm is one Lloyd fit (k=64 rides the
    pandas scorer automatically), one code projection, one keyed
    integer-sum ADC aggregate and a TakeOrderedAndProject; the exact
    truth is ONE brute scan shared by every arm (broadcast k-row
    overlap joins).  Integer nano distances everywhere — no
    cross-engine ulp surface."""
    import math

    top_k = 10
    emb = load_table(spark, sf_dir, "embeddings")

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
    exact = (
        emb.select(
            F.col("vec_id").alias("id"),
            F.round(d_exact * F.lit(1e9), 0).cast("long").alias("nano"),
        )
        .orderBy(F.col("nano").asc(), F.col("id").asc())
        .limit(top_k)
        .select("id")
    )

    rows = []
    for kk in _COMP_KS:
        books = pq_fit(emb, m=_M, sub_dim=_SUB_DIM, k=kk, iters=_ITERS)
        codes = pq_codes(emb, books)
        from ffiec_pq_spark.operators.pq import pq_adc_topk

        approx = pq_adc_topk(codes, books, _PROBE, top_k=top_k).select(
            "id"
        )
        hit = approx.join(F.broadcast(exact), "id").agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        rows.append(
            hit.select(
                F.lit(kk).alias("k"),
                F.lit(_M * int(math.log2(kk))).alias("bits_per_vec"),
                F.round(
                    F.col("n_hit").cast("double") / F.lit(float(top_k)),
                    6,
                ).alias(f"recall_at_{top_k}"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
