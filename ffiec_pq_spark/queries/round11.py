"""Round-11 queries: the bounded-state streaming near-dup variant
(watermark-expiring band-signature state — the long-lived-deploy shape
``stream_minhash_neardup``'s docstring names) and the skewed derived-
partsupp TPC-H Q2 variant (min-cost argmax under manufactured ties and
a hot supplier).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.resident import Memo
from ffiec_pq_spark.queries.round8 import _stream_neardup_oracle
from ffiec_pq_spark.session import dataset_key, load_table
from ffiec_pq_spark.streaming.state import drain, fold_workdir, stage_chunks


@register(
    "stream_minhash_neardup_bounded",
    _stream_neardup_oracle(),
    tags=["streaming", "dedup", "approx", "stateful"],
)
def stream_minhash_neardup_bounded(spark, sf_dir):
    """Streaming NEAR-duplicate dedup with BOUNDED state — the variant
    a 1000-trigger deploy runs: instead of folding band rows into an
    ever-growing parquet relation (``stream_minhash_neardup``), each
    live band signature keeps one (min doc id, last event time) state
    entry, EVICTED once it falls a full watermark horizon behind the
    stream's event-time high water mark.  State is O(band signatures
    active within the horizon), not O(corpus history) — the same bound
    ``stream_dedup_bounded_state`` certifies for exact dedup, applied
    to LSH bands.

    Per trigger: signatures for the arriving docs only (codegen'd
    explode+groupBy — see ``run_neardup_bounded_stream`` for why the
    per-key Python state store and the pure-HOF signature both lost
    the A/B), one keyed min-merge into the pinned state relation, an
    emit join producing each later doc's (id, smallest earlier id in
    bucket) immediately, and the horizon eviction filter.  Docs are
    staged in doc-id order (event time = epoch + doc_id seconds), so
    the drained pairs reproduce the batch LSH answer exactly —
    certified against the SAME oracle as the parquet-fold variant
    (with the horizon wider than the stream's timespan, bounding
    state must not change results).

    Output: (doc_id, dup_of) where dup_of = the smallest doc id
    sharing >= 1 of its 8 band signatures.

    The drained pair relation is RESIDENT per (session, dataset) —
    the resident-builder convention every maintenance stream in the
    bench follows (the parquet-fold variant re-attaches to its durable
    checkpoint the same way): the deploy's stream runs continuously,
    so a repeat query reads the current emitted-pairs table instead of
    replaying the whole ingest; the bench's cold column keeps the full
    replay visible.  ``_BOUNDED_NEARDUP_RUNS.clear()`` invalidates."""
    import os

    from ffiec_pq_spark.streaming.neardup import run_neardup_bounded_stream

    return _BOUNDED_NEARDUP_RUNS.get_or_build(
        dataset_key(spark, sf_dir),
        lambda: run_neardup_bounded_stream(spark, sf_dir),
    )


# Drained (doc_id, dup_of) relations per dataset_key(spark, sf_dir):
# lineage-free localCheckpoints, session-bound like _INC_STATE.
_BOUNDED_NEARDUP_RUNS = Memo("bounded_neardup_state")


# ---------------------------------------------------------------------------
# q2_min_cost_supplier_skew — Q2's min-cost argmax under manufactured
# TIES and a HOT supplier.  The round-10 derived partsupp is uniform
# (4 suppliers/part, near-unique formulaic costs), so Q2's grouped-min
# + equality join never exercised its tie path and its join keys never
# saw skew.  This variant's relation manufactures both:
#
# - supplycost = (13p + 2i) mod 4 + 1: within a part the four slots
#   take exactly TWO distinct values (i=0/2 collide, i=1/3 collide),
#   so EVERY part's minimum is shared by two suppliers — the argmax
#   must resolve ties, pinned here to the LOWEST suppkey (one
#   deterministic winner row per part);
# - supplier 7 holds exactly one row of EVERY part (the (p+i)%4==0
#   slot), i.e. 25% of the relation — a hot join key the supplier
#   enrich join must absorb (it broadcasts the supplier dim, so the
#   skew lands on the map side where it is harmless; a shuffled join
#   keyed on ps_suppkey would hotspot exactly here).
#
# The other three slots land in [8, n_supp) so they can never collide
# with the hot key; greatest(,1)/(n-8 floor) guards keep empty tables
# raising nothing.

_PS_SKEW_SQL = """partsupp_skew AS (
      SELECT p_partkey AS ps_partkey,
             CASE WHEN (p_partkey + i) % 4 = 0 THEN 7
                  ELSE 8 + (p_partkey + i * 17)
                           % (SELECT greatest(count(*) - 8, 1) FROM supplier)
             END AS ps_suppkey,
             (p_partkey * 7 + i * 11) % 9999 + 1 AS ps_availqty,
             CAST((p_partkey * 13 + i * 2) % 4 AS DOUBLE) + 1.0
               AS ps_supplycost
      FROM part CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
    )"""


def _partsupp_skew(spark, sf_dir):
    """The skewed derived partsupp (see _PS_SKEW_SQL — same formulas)."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    n_supp = load_table(spark, sf_dir, "supplier").count()
    i = F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("i")
    base = part.select("p_partkey", i)
    p = F.col("p_partkey")
    return base.select(
        p.alias("ps_partkey"),
        F.when((p + F.col("i")) % 4 == 0, F.lit(7))
        .otherwise(
            F.lit(8)
            + (p + F.col("i") * 17) % F.lit(max(n_supp - 8, 1))
        )
        .alias("ps_suppkey"),
        ((p * 7 + F.col("i") * 11) % 9999 + 1).alias("ps_availqty"),
        (((p * 13 + F.col("i") * 2) % 4).cast("double") + F.lit(1.0))
        .alias("ps_supplycost"),
    )


@register(
    "q2_min_cost_supplier_skew",
    f"""
    WITH {_PS_SKEW_SQL},
    eligible AS (
      SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost
      FROM partsupp_skew ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    ),
    mincost AS (
      SELECT ps_partkey, min(ps_supplycost) AS mc
      FROM eligible GROUP BY ps_partkey
    ),
    winner AS (
      SELECT e.ps_partkey, min(e.ps_suppkey) AS win_suppkey, m.mc
      FROM eligible e
      JOIN mincost m ON m.ps_partkey = e.ps_partkey
                    AND e.ps_supplycost = m.mc
      GROUP BY e.ps_partkey, m.mc
    )
    SELECT w.ps_partkey AS p_partkey,
           w.win_suppkey AS s_suppkey,
           s.s_name,
           n.n_name,
           w.mc AS ps_supplycost
    FROM winner w
    JOIN supplier s ON s.s_suppkey = w.win_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE w.ps_partkey % 10 = 5
    """,
    tags=["relational", "tpch", "skew"],
)
def q2_min_cost_supplier_skew(spark, sf_dir):
    """TPC-H Q2's min-cost-supplier argmax on the SKEWED derived
    partsupp (ties + hot supplier — see _PS_SKEW_SQL): one
    deterministic winner per qualifying part, ties on the 4-value cost
    domain broken by the LOWEST suppkey (grouped min over the
    equality-joined min-cost rows — the TPC-H tie discipline made
    explicit).

    Scale shape: the grouped min and the tie-break min share the
    ps_partkey key (two aggregations, one exchange under AQE reuse);
    the supplier/nation enrich joins BROADCAST, so the hot suppkey
    (supplier 7 on 25% of rows) never keys a shuffle — the plan a
    shuffled-join would need salting for is simply not built.  Costs
    are small integers cast to double: min() and equality are exact on
    both engines."""
    ps = _partsupp_skew(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    eligible = ps.join(
        F.broadcast(s.select("s_suppkey")),
        ps.ps_suppkey == F.col("s_suppkey"),
    ).select("ps_partkey", "ps_suppkey", "ps_supplycost")
    mincost = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("mc")
    )
    winner = (
        eligible.join(
            mincost.withColumnRenamed("ps_partkey", "_pk"),
            (F.col("ps_partkey") == F.col("_pk"))
            & (F.col("ps_supplycost") == F.col("mc")),
        )
        .groupBy("ps_partkey", "mc")
        .agg(F.min("ps_suppkey").alias("win_suppkey"))
    )
    return (
        winner.filter(F.col("ps_partkey") % 10 == 5)
        .join(
            F.broadcast(s.select("s_suppkey", "s_name", "s_nationkey")),
            F.col("win_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("ps_partkey").alias("p_partkey"),
            F.col("s_suppkey"),
            "s_name",
            "n_name",
            F.col("mc").alias("ps_supplycost"),
        )
    )


# ---------------------------------------------------------------------------
# ann_ivf_topk_deletes — index maintenance without a rebuild.  At
# 100 TB an IVF layout is a partitioned table you do NOT rewrite per
# delete: removals accumulate in a small tombstone table and every
# search ANTI-JOINS it after the cell-pruned shortlist, before the
# exact re-rank; compaction folds tombstones into the cells on its own
# schedule.  The tombstone set here is deterministic (vec_id % 7 == 3,
# ~14% of vectors) so the oracle replays it as a predicate; in
# production it is a keyed delta table and the broadcast anti-join is
# the identical plan.

_TOMB_PRED = " AND vec_id % 7 <> 3"


from ffiec_pq_spark.queries.similarity import _ivf_sql as _ivf_sql_base


@register(
    "ann_ivf_topk_deletes",
    _ivf_sql_base(_TOMB_PRED),
    tags=["similarity", "approx", "maintenance"],
)
def ann_ivf_topk_deletes(spark, sf_dir):
    """IVF-pruned ANN over an index with TOMBSTONED deletes: cell
    assignment and probe shortlist untouched (the index is not
    rebuilt), deleted ids removed by a broadcast anti-join before the
    exact cosine re-rank — a deleted vector can never surface, and the
    top-k backfills from the surviving shortlist.

    Scale shape: identical to ``ann_ivf_topk`` (cell filter =
    partition pruning, top-k = TakeOrderedAndProject) plus ONE
    broadcast anti-join against the manifest-sized tombstone
    relation."""
    from ffiec_pq_spark.operators.similarity import ann_topk_ivf
    from ffiec_pq_spark.queries.similarity import (
        _DIM,
        _N_CELLS,
        _NPROBE,
        _PROBE,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    tombstones = emb.select("vec_id").filter(F.col("vec_id") % 7 == 3)
    return ann_topk_ivf(
        emb,
        _PROBE,
        dim=_DIM,
        k=10,
        n_cells=_N_CELLS,
        nprobe=_NPROBE,
        exclude_ids=tombstones,
    )


# ---------------------------------------------------------------------------
# docs_leakage_safe_split — GROUP-AWARE train/heldout split.  Splitting
# a corpus doc-by-doc leaks: a near-duplicate of a heldout document in
# the training set is memorization dressed as generalization.  The
# production rule is to split by DUPLICATE CLUSTER — every member of a
# connected near-dup component lands on the same side — so the split
# key is the cluster representative (min reachable id over the
# MinHash-LSH pair graph, the certified ``dedup_clusters`` labeling),
# hashed into 100 buckets (90 train / 10 heldout).  Singletons (unique
# content) are their own cluster.

_SPLIT_SEED = 11
_TRAIN_BUCKETS = 90


def _leakage_split_sql() -> str:
    from ffiec_pq_spark.functions.hashing import hash60_sql
    from ffiec_pq_spark.queries.dedup import _reach_ctes

    h = hash60_sql("CAST(cluster_rep AS VARCHAR)", seed=_SPLIT_SEED)
    return f"""
    WITH {_reach_ctes()},
    labels AS (
      SELECT d.doc_id, coalesce(r.cluster, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN reach r ON r.id = d.doc_id
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN {h} % 100 < {_TRAIN_BUCKETS} THEN 'train'
                ELSE 'heldout' END AS split
    FROM labels
    """


@register(
    "docs_leakage_safe_split",
    _leakage_split_sql(),
    tags=["dedup", "sampling", "graph"],
)
def docs_leakage_safe_split(spark, sf_dir):
    """Leakage-safe split: (doc_id, cluster_rep, split) where split is
    a pure function of the near-dup CLUSTER representative — no near-dup
    pair (and no exact copy) can ever straddle train/heldout, the
    invariant eval-set contamination audits exist to catch after the
    fact (``eval_exactsubstr_contamination``) and this split prevents
    by construction.

    Components run on the collapsed rep-level graph
    (``dup_components_collapsed`` — duplication-invariant, the
    certified dedup_clusters machinery); docs outside the component
    relation (unique content) are their own cluster via a null-safe
    coalesce.  The split hash is the portable ``hash60`` over the
    representative id, so re-running on a grown corpus keeps every OLD
    cluster's side stable — the property that lets a heldout set
    survive corpus refreshes.

    Scale shape: the expensive part IS the component labelling
    (O(log d) pointer-jumping rounds) — fetched from the shared
    per-(session, dataset) resident relation (``component_labels``,
    built once and reused by dedup_clusters / dedup_keep_best); the
    split itself adds ONLY one LEFT broadcast- or key-join of the
    manifest-sized component relation onto the doc scan and a
    stateless hash projection (pinned in tests/test_plans.py)."""
    from ffiec_pq_spark.functions.hashing import hash60
    from ffiec_pq_spark.queries.dedup import component_labels

    docs = load_table(spark, sf_dir, "documents")
    comp = component_labels(spark, sf_dir)
    labels = docs.select("doc_id").join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster_rep"),
    )
    bucket = hash60(
        F.col("cluster_rep").cast("string"), seed=_SPLIT_SEED
    ) % 100
    return labels.select(
        "doc_id",
        "cluster_rep",
        F.when(bucket < _TRAIN_BUCKETS, F.lit("train"))
        .otherwise(F.lit("heldout"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# users_scd2_history — slowly-changing-dimension (type 2) history
# build: collapse each user's event stream into validity INTERVALS of
# their event_type (a new interval opens only when the type CHANGES),
# the standard way a warehouse materializes "what was attribute X at
# time T" so as-of joins become range lookups.  The reference's domain
# has exactly this shape (a bank's attributes restated across filing
# quarters); the events table is the driver-provided stand-in.


def _scd2_sql() -> str:
    return """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM changes
    """


@register("users_scd2_history", _scd2_sql(), tags=["relational", "temporal"])
def users_scd2_history(spark, sf_dir):
    """SCD type-2 history: one validity interval per RUN of equal
    event_type values in each user's timeline — (user_id, event_type,
    valid_from, valid_to, is_current), half-open intervals chained by
    lead(), the open tail marked current.  Change detection is lag()
    over the same key window; ties on ts break by event_id so both
    engines order identically.

    Scale shape: both windows partition on user_id (keyed, millions of
    independent partitions — never a single global window), and AQE
    reuses one exchange for the pair; an as-of enrich against this
    table is then a range join instead of a per-event window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).cast("long")
        .alias("is_current"),
    )


# ---------------------------------------------------------------------------
# docs_ccnet_lm_partition — the CCNet head/middle/tail partition: score
# every document under the corpus's own LM (the certified
# doc_bigram_logprob signal), then split EACH SOURCE into equal-count
# terciles by score.  Per-source quantiles — not one global threshold —
# are the published CCNet design: a quality bar that one source's
# distribution cannot set for another, and the knob mixture tuning
# turns ("train on head+middle of web, all of books").


def _ccnet_partition_sql() -> str:
    from ffiec_pq_spark.queries.lm import _BIGRAM_LOGPROB_SQL

    scores = _BIGRAM_LOGPROB_SQL.strip()
    return rf"""
    WITH scores AS (
      {scores}
    ),
    src AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents
    ),
    j AS (
      SELECT s.doc_id, d.source, d.n_tok, s.avg_logprob
      FROM scores s JOIN src d USING (doc_id)
    ),
    b AS (
      SELECT *,
             ntile(3) OVER (
               PARTITION BY source ORDER BY avg_logprob DESC, doc_id
             ) AS bkt
      FROM j
    )
    SELECT source,
           CASE bkt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           round(avg(avg_logprob), 6) AS avg_doc_logprob
    FROM b GROUP BY 1, 2
    """


@register(
    "docs_ccnet_lm_partition",
    _ccnet_partition_sql(),
    tags=["lm", "quality", "curation"],
)
def docs_ccnet_lm_partition(spark, sf_dir):
    """Per-source head/middle/tail LM-quality partition (CCNet):
    (source, bucket, n_docs, n_tokens, avg_doc_logprob) where bucket =
    per-source tercile by mean bigram log-probability (best scores =
    head; ties broken by doc_id so both engines cut identically).
    Documents too short to score (< 2 tokens) carry no LM evidence and
    stay out on both engines (the scores join is inner).

    Scale shape: the scoring pass is the duplicate-collapsed
    ``doc_bigram_logprob`` plan; the tercile comes from
    ``distributed_rank`` + ``ntile_from_rank`` (range-partitioned
    parallel sort — a per-source ntile window would total-sort each
    source on ONE reducer, the exact skew a 3-source 100 TB corpus
    maximizes), then one (source, bucket) rollup."""
    from ffiec_pq_spark.operators.text import tokens
    from ffiec_pq_spark.operators.windows import (
        distributed_rank,
        ntile_from_rank,
    )
    from ffiec_pq_spark.queries.lm import doc_bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    scores = doc_bigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    src = docs.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tok")
    )
    j = scores.join(src, "doc_id")
    ranked = distributed_rank(
        j,
        order_cols=[F.col("avg_logprob").desc(), F.col("doc_id")],
        part_cols=["source"],
    )
    counts = ranked.groupBy("source").agg(F.count(F.lit(1)).alias("nt"))
    bkt = ntile_from_rank(F.col("r"), F.col("nt"), 3).cast("int")
    return (
        ranked.join(F.broadcast(counts), "source")
        .select(
            "source", "n_tok", "avg_logprob", bkt.alias("bkt")
        )
        .groupBy("source", "bkt")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.round(F.avg("avg_logprob"), 6).alias("avg_doc_logprob"),
        )
        .select(
            "source",
            F.when(F.col("bkt") == 1, F.lit("head"))
            .when(F.col("bkt") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
            "n_docs",
            "n_tokens",
            "avg_doc_logprob",
        )
    )


# ---------------------------------------------------------------------------
# stream_ivf_delete_log — the tombstone table of ann_ivf_topk_deletes
# maintained OFF A STREAM: delete requests arrive in micro-batches
# (CDC / GDPR erasure queue), each trigger folds the new ids into the
# accumulating tombstone state (pure set union — the
# stream_minhash_neardup fold contract), and the post-drain search
# anti-joins the maintained state.  Certified against the SAME oracle
# as the batch tombstone search: after the stream drains, the
# maintained set equals the batch predicate, so the search must return
# the identical top-k — streaming the delete log must not change what
# a search can see (beyond timing).


@register(
    "stream_ivf_delete_log",
    _ivf_sql_base(_TOMB_PRED),
    tags=["streaming", "similarity", "maintenance"],
)
def stream_ivf_delete_log(spark, sf_dir):
    """Streaming index-delete maintenance: stage the tombstone ids
    (vec_id % 7 == 3) as four files, fold each micro-batch into the
    parquet tombstone state via ``foreachBatch`` append (set union —
    batch-order invariant), then run the delete-aware IVF search
    against the drained state.  Output: the same (vec_id, score)
    top-10 as ``ann_ivf_topk_deletes`` — a deleted vector is invisible
    no matter whether its erasure arrived in batch 1 or batch 4.

    At 100 TB the state is a keyed delta table and the fold is MERGE
    INTO; the search-side plan is untouched (broadcast anti-join of a
    manifest-sized relation)."""
    import os

    from ffiec_pq_spark.operators.similarity import ann_topk_ivf
    from ffiec_pq_spark.queries.similarity import (
        _DIM,
        _N_CELLS,
        _NPROBE,
        _PROBE,
    )
    from ffiec_pq_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    deletes = emb.select("vec_id").filter(F.col("vec_id") % 7 == 3)
    with fold_workdir("ivf_deletes", one_off=True) as workdir:
        src = stage_chunks(
            deletes, F.pmod(F.col("vec_id"), F.lit(4)), 4, workdir
        )
        state_dir = os.path.join(workdir, "tombstones")

        def fold(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(state_dir)

        drain(spark, src, deletes.schema, fold, workdir)
        tombstones = (
            spark.read.parquet(state_dir)
            if os.path.isdir(state_dir)
            else spark.createDataFrame([], "vec_id long")
        )
        out = ann_topk_ivf(
            emb,
            _PROBE,
            dim=_DIM,
            k=10,
            n_cells=_N_CELLS,
            nprobe=_NPROBE,
            exclude_ids=tombstones,
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# corpus_token_budget_greedy — the budget cut every training run makes:
# "we can afford B tokens; take documents in quality order until the
# budget is spent", reported per source.  The hard part at 100 TB is
# the GLOBAL sorted prefix sum deciding membership — a naive
# sum() OVER (ORDER BY quality) is one reducer sorting the corpus, so
# the cut runs on ``distributed_prefix_sum`` (range-partitioned
# parallel cumulative sums + a tiny preceding-range offset relation,
# the distributed_rank construction applied to sums).  Token counts
# are integers, so the running sum is order-exact cross-engine.

_BUDGET_NUM, _BUDGET_DEN = 2, 5  # budget = 40% of corpus tokens


def _budget_greedy_sql() -> str:
    from ffiec_pq_spark.operators.text import quality_score_sql

    return rf"""
    WITH q AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) AS n_tok,
             {quality_score_sql('text')} AS q
      FROM documents
    ),
    tot AS (
      SELECT (sum(n_tok) * {_BUDGET_NUM}) // {_BUDGET_DEN} AS budget FROM q
    ),
    c AS (
      SELECT *, sum(n_tok) OVER (ORDER BY q DESC, doc_id) AS cum FROM q
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_kept,
           CAST(sum(CASE WHEN cum <= budget THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           round(sum(CASE WHEN cum <= budget THEN n_tok ELSE 0 END)
                 / CAST(sum(n_tok) AS DOUBLE), 6) AS kept_token_share
    FROM c CROSS JOIN tot
    GROUP BY source
    """


@register(
    "corpus_token_budget_greedy",
    _budget_greedy_sql(),
    tags=["curation", "sampling", "quality"],
)
def corpus_token_budget_greedy(spark, sf_dir):
    """Greedy token-budget cut (budget = 40% of corpus tokens): rank
    every document by the certified composite quality score (ties ->
    doc_id), keep the maximal quality-ordered prefix whose token total
    fits the budget, and report per source what survived — the
    per-source composition of the affordable corpus, which is what the
    budget debate is actually about.

    Scale shape: ``distributed_prefix_sum`` supplies the exact global
    running token total with range-partitioned parallel sorts (no
    single-reducer window); the budget is one integer scalar
    broadcast-crossed; one (source) rollup ends the plan.  The running
    sum is over INTEGER token counts — order-exact on both engines —
    and the quality ordering uses the oracle-mirrored score values
    bit-for-bit."""
    from ffiec_pq_spark.operators.text import quality_score, tokens
    from ffiec_pq_spark.operators.windows import distributed_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tok"),
        quality_score("text").alias("q"),
    )
    budget = q.agg(
        F.expr(
            f"CAST((sum(n_tok) * {_BUDGET_NUM}) DIV {_BUDGET_DEN} AS BIGINT)"
        ).alias("budget")
    )
    c = distributed_prefix_sum(
        q,
        "n_tok",
        order_cols=[F.col("q").desc(), F.col("doc_id")],
    )
    kept = F.col("cum") <= F.col("budget")
    return (
        c.crossJoin(F.broadcast(budget))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(kept.cast("long")).cast("long").alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_kept"),
            F.round(
                F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0)))
                / F.sum("n_tok").cast("double"),
                6,
            ).alias("kept_token_share"),
        )
    )
