"""Round-13 seventh wave: per-source quality telemetry as a MAINTAINED
asset — the ``source_quality_scorecard``'s heuristic layer carried by
the same streaming-fold / exact-unlearning lifecycle as the BM25
index, the KN counts, and the linear probe.

- ``stream_scorecard_fold`` — documents arrive as micro-batches; each
  ``foreachBatch`` fold merges the batch's per-source sufficient
  statistics (doc count, token count, quality mass in integer micros)
  into the maintained |sources|-row table.  Integer sums are
  commutative, so the drained serve certifies against the same batch
  oracle under ANY arrival order.
- ``scorecard_unlearn`` — the deletion twin: an erased slice's
  statistics SUBTRACT out of the resident table (cost ∝ |deleted|),
  and because the state is exact integers the corrected scorecard is
  bit-for-bit what recomputing over the survivors yields — which is
  exactly what the strict oracle does.

Quality mass is held as ``round(quality · 1e6)`` int64 micros (the
per-doc score is already 6 dp, so the micro value is exact), making
every fold/unlearn a pure keyed integer merge and the served mean one
double division both engines perform identically."""

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

_SC_OUT_SCHEMA = (
    "source string, n_docs long, n_tokens long, mean_quality double"
)


def _sc_stats(docs):
    """Per-source sufficient statistics of the heuristic quality layer:
    (source, n_docs, n_tok, q_micro) — all int64, all mergeable by
    keyed addition."""
    from ffiec_pq_spark.operators.text import (
        quality_score_tok,
        token_count,
        tokens,
    )

    q_micro = (
        F.round(quality_score_tok(tokens("text"), "text") * 1e6, 0)
        .cast("long")
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("n_tok"),
        F.sum(q_micro).cast("long").alias("q_micro"),
    )


def _sc_serve(stats):
    """The scorecard readout from a statistics table: the mean is ONE
    double division of two exact integers, rounded once."""
    return stats.filter(F.col("n_docs") > 0).select(
        "source",
        "n_docs",
        F.col("n_tok").alias("n_tokens"),
        F.round(
            F.col("q_micro") / (F.lit(1000000.0) * F.col("n_docs")), 6
        ).alias("mean_quality"),
    )


def _sc_oracle(where: str = "") -> str:
    from ffiec_pq_spark.operators.text import quality_score_sql

    tok = r"len(string_split_regex(trim(text), '\s+'))"
    return f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum({tok}) AS BIGINT) AS n_tokens,
           round(sum(CAST(round({quality_score_sql()} * 1000000, 0)
                          AS BIGINT))
                 / (1000000.0 * count(*)), 6) AS mean_quality
    FROM documents
    {where}
    GROUP BY source
    """


# --------------------------------------------------------------------------
# stream_scorecard_fold

_SC_STREAM_STATE = Memo("scorecard_stream_state")


def _sc_insert_fold(spark, state, workdir):
    """Per-trigger fold: the batch's per-source statistics merge into
    the maintained |sources|-row table by keyed integer addition
    (versioned state,
    :func:`~ffiec_pq_spark.streaming.state.versioned_fold`).  Work per
    trigger ∝ batch + |sources| — never the accumulated corpus.
    Module-level factory so tests can drive epochs directly (replay /
    crash-window)."""

    def step(batch_df, epoch_id):
        return {
            "stats": keyed_add(
                spark, state["stats"], _sc_stats(batch_df), ["source"],
                ["n_docs", "n_tok", "q_micro"],
            )
        }

    return versioned_fold(state, workdir, step)


def _sc_stream_build(spark, corpus, chunk_order=None, n_chunks=4):
    """Drain the ingest stream; return ``{workdir, stats}``."""
    with fold_workdir("scorecard") as workdir:
        src = stage_chunks(
            corpus, F.pmod("doc_id", F.lit(n_chunks)), n_chunks, workdir,
            chunk_order,
        )
        state = new_state("stats")
        fold = _sc_insert_fold(spark, state, workdir)
        drain(spark, src, corpus.schema, fold, workdir)
        return {"workdir": workdir, "stats": state["stats"]}


@register(
    "stream_scorecard_fold",
    _sc_oracle(),
    tags=["streaming", "quality", "corpus"],
)
def stream_scorecard_fold(spark, sf_dir, chunk_order=None):
    """STREAMING per-source quality telemetry: documents arrive as
    micro-batches and each ``foreachBatch`` fold merges the batch's
    per-source sufficient statistics — doc count, token count, and
    quality mass in exact integer micros — into the maintained
    |sources|-row table (keyed integer addition: commutative, so the
    drained serve certifies under ANY arrival order; the permuted
    drain is pinned in tests).  The serve is one projection over the
    folded table; the **strict oracle** recomputes the identical
    statistics over the full corpus, proving the incremental
    maintenance changes nothing.

    This is the quality dashboard a live ingest keeps current: at
    100 TB per-trigger cost ∝ batch + |sources| (never the
    accumulated corpus), the state table is |sources| rows of int64,
    and the fold keeps the ``streaming/state.py`` crash/replay
    contract.

    Resident per (session, dataset) (``_SC_STREAM_STATE``): repeat
    calls pay only the serve; an explicit ``chunk_order`` folds
    fresh."""
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    docs = load_table(spark, sf_dir, "documents")
    return serve_fold(
        _SC_STREAM_STATE, dataset_key(spark, sf_dir), docs,
        lambda: _sc_stream_build(spark, docs, chunk_order),
        lambda st: _sc_serve(read_state(spark, st["stats"])),
        lambda: spark.createDataFrame([], _SC_OUT_SCHEMA),
        one_off=chunk_order is not None,
    )


# --------------------------------------------------------------------------
# scorecard_unlearn — exact per-source telemetry correction on erasure.

_SC_FORGET_MOD = 9
_SC_FORGET_SLOT = 4


@register(
    "scorecard_unlearn",
    _sc_oracle(
        f"WHERE NOT (doc_id % {_SC_FORGET_MOD} = {_SC_FORGET_SLOT})"
    ),
    tags=["quality", "corpus", "curation"],
)
def scorecard_unlearn(spark, sf_dir):
    """EXACT unlearning for the per-source quality telemetry: an
    erased slice's sufficient statistics (doc count, token count,
    quality micros — all int64) SUBTRACT out of the full-corpus
    table, so the corrected scorecard is bit-for-bit what recomputing
    over the survivors yields — which is exactly what the **strict
    oracle** does.  Completes the telemetry asset's lifecycle (batch
    readout / streaming fold / exact delete), the
    ``doc_kn_unlearn`` / ``embedding_probe_unlearn`` contract.

    Cost ∝ |deleted| for the erased-slice aggregation plus a
    |sources|-row keyed LEFT-join subtraction; the corpus is never
    re-scanned.  Sources whose every doc was erased drop out (their
    count reaches zero), matching the survivors-only recompute."""
    docs = load_table(spark, sf_dir, "documents")
    full = _sc_stats(docs)
    erased = _sc_stats(
        docs.filter(
            F.col("doc_id") % _SC_FORGET_MOD == F.lit(_SC_FORGET_SLOT)
        )
    ).select(
        "source",
        F.col("n_docs").alias("_dd"),
        F.col("n_tok").alias("_dt"),
        F.col("q_micro").alias("_dq"),
    )
    corrected = (
        full.join(erased, "source", "left")
        .select(
            "source",
            (F.col("n_docs") - F.coalesce(F.col("_dd"), F.lit(0)))
            .cast("long")
            .alias("n_docs"),
            (F.col("n_tok") - F.coalesce(F.col("_dt"), F.lit(0)))
            .cast("long")
            .alias("n_tok"),
            (F.col("q_micro") - F.coalesce(F.col("_dq"), F.lit(0)))
            .cast("long")
            .alias("q_micro"),
        )
    )
    return _sc_serve(corrected)
