"""Round-12 second wave: Kneser-Ney duplicate-collapse invariance and
the streaming BM25 fold's batch-equivalence / plan contracts.

(The strict cross-engine value certification for all three queries is
the driver gate — scripts/driver_check.py; these tests pin the
operator-level invariants the oracle can't see.)"""

import pyspark.sql.functions as F

from ffiec_pq_spark.catalog import queries
from ffiec_pq_spark.plans.audit import physical_plan


def test_kneser_ney_duplicate_collapse(spark, tmp_path):
    """A d-way duplicated corpus must score every copy identically to
    its representative, and the model must equal the naive estimation
    (weighted rep counts == naive counts; continuation counts are
    duplication-invariant)."""
    base = [
        (1, "the cat sat on the mat", "en", "web", 22),
        (2, "the dog sat on the log", "en", "web", 22),
        (3, "a cat and a dog", "en", "book", 15),
    ]
    rows = list(base)
    # 3 extra copies of doc 1's text under new ids
    for k, did in enumerate((10, 11, 12)):
        rows.append((did, base[0][1], "en", "web", 22))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        src = f"/root/testdata/sf0.001/{t}.parquet"
        spark.read.parquet(src).limit(0).write.mode("overwrite").parquet(
            str(tmp_path / f"{t}.parquet")
        )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["avg_kn_logprob"])
        for r in queries()["doc_kneser_ney_bigram"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {1, 2, 3, 10, 11, 12}
    assert out[10] == out[11] == out[12] == out[1]
    # KN probabilities are a proper distribution-ish score: more
    # repeated bigrams ("the cat sat ..." x4 copies) -> higher prob
    assert out[1][1] > out[3][1]


def test_kneser_ney_plan_no_cartesian(spark, sf_dir):
    df = queries()["doc_kneser_ney_bigram"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    # the type-total scalar must attach as a broadcast, never shuffle
    assert "BroadcastExchange" in plan


def test_stream_bm25_fold_equals_batch(spark, sf_dir):
    """Folding the index from micro-batches must reproduce the batch
    query's scores row-for-row (same oracle, but assert engine-side
    too so a fold bug can't hide behind a flaky oracle run)."""
    batch = {
        (r["q_id"], r["rank"]): (r["doc_id"], r["score_micro"])
        for r in queries()["docs_bm25_topk"](spark, sf_dir).collect()
    }
    streamed = {
        (r["q_id"], r["rank"]): (r["doc_id"], r["score_micro"])
        for r in queries()["stream_bm25_index_fold"](
            spark, sf_dir
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_bm25_fold_arrival_order_invariant(spark, sf_dir):
    """The fold is key-commutative (appends + keyed sums), so a
    permuted arrival order must drain to the identical serve — the
    claim that distinguishes this fold from the order-pinned SCD2."""
    from ffiec_pq_spark.queries.round12b import stream_bm25_index_fold

    fwd = {
        (r["q_id"], r["rank"]): (r["doc_id"], r["score_micro"])
        for r in stream_bm25_index_fold(
            spark, sf_dir, chunk_order=[0, 1, 2, 3]
        ).collect()
    }
    rev = {
        (r["q_id"], r["rank"]): (r["doc_id"], r["score_micro"])
        for r in stream_bm25_index_fold(
            spark, sf_dir, chunk_order=[2, 0, 3, 1]
        ).collect()
    }
    assert fwd == rev and len(fwd) > 0


def test_stream_bm25_serve_plan(spark, sf_dir):
    """The serve step scores against resident state: its plan is the
    drained localCheckpoint (no cartesian, no re-tokenization of the
    corpus — the scan reads the postings state, not documents.text)."""
    df = queries()["stream_bm25_index_fold"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


_BRIDGE_A = (
    "a2x0 a9x1 a4x2 a5x3 a6x4 a8x5 a2x6 a4x7 a1x8 a7x9 a3x10 a0x11 "
    "a4x12 a2x13 a8x14 a1x15 a4x16 a6x17 a5x18 a4x19"
)
_BRIDGE_C = (
    "c6y0 c1y1 c1y2 c8y3 c7y4 c7y5 c5y6 c5y7 c1y8 c7y9 c1y10 c7y11 "
    "c6y12 c0y13 c4y14 c5y15 c2y16 c2y17"
)
_BRIDGE_B = _BRIDGE_A + " " + _BRIDGE_C[: _BRIDGE_C.rindex(" ")]


def test_retract_splits_bridged_cluster(spark, tmp_path):
    """Deleting a bridge document must SPLIT its cluster: doc 5 links
    the A-side (1, 3: exact copies) to the C-side (2, 4) — at the
    registry's LSH parameters A~B and B~C pair but A and C share no
    shingle.  Retracting 5 (5 % 13 == 5) must emit the two surviving
    clusters, proving the localized recompute reproduces splits (the
    case the insertion-side quotient shortcut can never hit)."""
    rows = [
        (1, _BRIDGE_A), (3, _BRIDGE_A),
        (2, _BRIDGE_C), (4, _BRIDGE_C),
        (5, _BRIDGE_B),
        (100, "entirely unrelated filler text about nothing at all"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(
            0
        ).write.mode("overwrite").parquet(str(tmp_path / f"{t}.parquet"))

    from ffiec_pq_spark.queries.dedup import component_labels

    # precondition: the full corpus really is one bridged cluster
    full = {
        (r["id"], r["cluster"])
        for r in component_labels(spark, str(tmp_path)).collect()
    }
    assert {c for _, c in full} == {1}
    assert {i for i, _ in full} == {1, 2, 3, 4, 5}

    out = {
        r["cluster_rep"]: (r["n_members"], r["member_ids"])
        for r in queries()["dedup_clusters_retract"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {1: (2, "1,3"), 2: (2, "2,4")}


def test_stream_bm25_delete_fold_equals_surviving_batch(spark, sf_dir):
    """The deletion fold's drained serve must equal a FULL batch
    reindex over the surviving corpus, engine-side (df decrements and
    the stats corrections cannot drift from true recomputation) — and
    it must differ from the undeleted index (the deletion actually
    removed something on this fixture)."""
    from ffiec_pq_spark.queries.round12b import (
        _BM25_DEL_MOD,
        _BM25_DEL_SLOT,
        stream_bm25_delete_fold,
    )
    from ffiec_pq_spark.session import load_table

    folded = {
        (r["q_id"], r["rank"]): (r["doc_id"], r["score_micro"])
        for r in stream_bm25_delete_fold(spark, sf_dir).collect()
    }
    # batch reindex over survivors: reuse the batch builder on a view
    d = load_table(spark, sf_dir, "documents").filter(
        ~(
            (F.col("doc_id") % 10 != 0)
            & (F.col("doc_id") % _BM25_DEL_MOD == _BM25_DEL_SLOT)
        )
    )
    import ffiec_pq_spark.queries.round12 as r12

    orig = r12.load_table
    # substituting the surviving-corpus view for the documents table is
    # an in-place dataset rewrite as far as the session-resident BM25
    # index memo is concerned: per the resident-state contract it must
    # be invalidated before AND after, or the memo built from the
    # patched view would poison the unpatched key (and vice versa)
    r12._BM25_INDEX.clear()
    try:
        # the surviving-corpus view stands in for the documents table
        r12.load_table = lambda s, sd, t: (
            d if t == "documents" else orig(s, sd, t)
        )
        batch = {
            (r["q_id"], r["rank"]): (r["doc_id"], r["score_micro"])
            for r in r12._bm25_topk_frame(spark, sf_dir).collect()
        }
    finally:
        r12.load_table = orig
        r12._BM25_INDEX.clear()
    assert folded == batch and len(folded) > 0
    full = {
        (r["q_id"], r["rank"]): (r["doc_id"], r["score_micro"])
        for r in queries()["docs_bm25_topk"](spark, sf_dir).collect()
    }
    assert folded != full


def test_kneser_ney_distribution_sums_to_one():
    """The interpolated KN estimator is a PROPER conditional
    distribution: for every context w1, summing P_KN(w2|w1) over the
    whole continuation vocabulary gives exactly 1 — the discounted
    mass (c-D)/c1 leaves D*N1+(w1 .)/c1 on the table and the
    continuation distribution (which itself sums to 1) redistributes
    all of it.  Checked numerically in DuckDB with the query's own
    formula on a small corpus; a formula typo (e.g. forgetting the
    lambda normalization) breaks this immediately."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        """CREATE TABLE documents AS SELECT * FROM (VALUES
           (1, 'a b a c a b d'), (2, 'b a b c d a'), (3, 'c d c a b')
        ) t(doc_id, text)"""
    )
    rows = con.execute(
        r"""
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
        na AS (SELECT count(*) AS nall FROM c2),
        vocab AS (SELECT DISTINCT w2 FROM c2),
        -- P_KN over the FULL vocab per context: observed bigrams get
        -- the discounted term, unobserved only the continuation term
        full_p AS (
          SELECT ctx.w1,
                 sum(
                   CASE WHEN c2.n2 IS NOT NULL
                        THEN (c2.n2 - 0.75) / ctx.n1 ELSE 0 END
                   + ((0.75 * ctx.nfw) / ctx.n1)
                     * (CAST(bw.nbw AS DOUBLE) / na.nall)
                 ) AS total
          FROM c1 ctx
          CROSS JOIN vocab v
          JOIN bw ON bw.w2 = v.w2
          LEFT JOIN c2 ON c2.w1 = ctx.w1 AND c2.w2 = v.w2
          CROSS JOIN na
          GROUP BY ctx.w1
        )
        SELECT w1, total FROM full_p
        """
    ).fetchall()
    assert rows
    for w1, total in rows:
        assert abs(total - 1.0) < 1e-12, (w1, total)
