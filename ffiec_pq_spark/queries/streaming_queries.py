"""Structured Streaming queries surfaced through the oracle gate.

``stream_hourly_rollup`` runs the watermarked tumbling-window plan as a
REAL stream (readStream over the events parquet, complete-mode memory
sink, availableNow drain) and returns the drained result — which must
equal the batch/DuckDB group-by exactly.  This is the strongest check a
streaming op can get: not "it emitted something" but "the incremental
stateful execution converges to the batch answer".
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.session import local_frame
from ffiec_pq_spark.streaming.events import EVENT_SCHEMA
from ffiec_pq_spark.streaming.state import (
    drain,
    fold_workdir,
    new_state,
    read_state,
    stage_chunks,
    versioned_fold,
)

_SINK_IDS = itertools.count()


@register(
    "stream_hourly_rollup",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=["streaming"],
)
def stream_hourly_rollup(spark, sf_dir):
    """Incremental (streaming) tumbling rollup == batch rollup."""
    from ffiec_pq_spark.streaming.events import stream_events

    stream = stream_events(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    name = f"stream_hourly_rollup_{next(_SINK_IDS)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_dedup_pairs",
    "SELECT DISTINCT user_id, event_type FROM events",
    tags=["streaming", "dedup"],
)
def stream_dedup_pairs(spark, sf_dir):
    """Streaming exact dedup: ``dropDuplicates`` over the event stream
    (state = one entry per distinct key, emitted on first sight in
    append mode) drained with availableNow — must equal the batch
    DISTINCT exactly.  The streaming face of the exact-dedup operator:
    at scale the same plan runs continuously with the state store
    holding the seen-key set (bound it with
    ``dropDuplicatesWithinWatermark`` when keys expire)."""
    from ffiec_pq_spark.streaming.events import stream_events

    stream = (
        stream_events(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    name = f"stream_dedup_{next(_SINK_IDS)}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_interval_join",
    """
    SELECT s.event_id AS signup_id,
           p.event_id AS purchase_id,
           s.user_id,
           CAST(s.ts AS TIMESTAMP) AS signup_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON s.user_id = p.user_id
     AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(s.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
    """,
    tags=["streaming", "join"],
)
def stream_interval_join(spark, sf_dir):
    """Watermarked stream-stream interval join driven as a REAL dual
    stream (two readStream sources over the same events file), drained
    with availableNow: purchases within 30 minutes after a same-user
    signup.  Both watermarks are what bound both sides' join state at
    scale; the drained append output must hash-equal the batch/DuckDB
    range join exactly."""
    from ffiec_pq_spark.streaming.events import stream_events
    from ffiec_pq_spark.streaming.joins import interval_join

    def src():
        return stream_events(spark, sf_dir)

    signups = (
        src()
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("l_ts"),
        )
    )
    purchases = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    joined = interval_join(
        signups, purchases, key="user_id", within="30 minutes",
        watermark="2 hours",
    ).select(
        "signup_id",
        "purchase_id",
        "user_id",
        F.col("l_ts").alias("signup_ts"),
        F.col("r_ts").alias("purchase_ts"),
    )
    name = f"stream_ivjoin_{next(_SINK_IDS)}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_sessionize_stateful",
    # Append-mode stream: open tail sessions can't emit, so the emitted
    # ROW SET is watermark-dependent and a full-table SQL oracle can't
    # hash it.  The strict check pins what IS deterministic: (a) every
    # emitted session exactly matches the batch sessionizer (join on
    # user_id/start/end/n_events), (b) every batch session that did not
    # emit is its user's LAST session (only open tails may be withheld),
    # and (c) the batch session count, replayed in SQL.
    """
    WITH flagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - lag(epoch(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
                       > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sids AS (
      SELECT user_id,
             CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT CAST(count(*) AS BIGINT) AS n_batch_sessions,
           TRUE AS all_emitted_match_batch,
           TRUE AS unemitted_are_open_tails
    FROM (SELECT user_id, session_id FROM sids GROUP BY user_id, session_id)
    """,
    tags=["streaming", "stateful"],
)
def stream_sessionize_stateful(spark, sf_dir):
    """The applyInPandasWithState gap sessionizer driven as a real
    stream over the events table, certified strictly against the batch
    sessionizer: drain the stream, join the emitted sessions against
    ``sessionize`` (operators/windows.py) output, and emit one row of
    equivalence invariants (additionally pinned per-row in
    tests/test_streaming.py)."""
    from ffiec_pq_spark.operators.windows import sessionize
    from ffiec_pq_spark.session import load_table
    from ffiec_pq_spark.streaming.events import stream_events
    from ffiec_pq_spark.streaming.stateful import sessionize_stream

    stream = stream_events(spark, sf_dir)
    sess = sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
    name = f"stream_sessionize_{next(_SINK_IDS)}"
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events"
    )

    batch = sessionize(
        load_table(spark, sf_dir, "events").select("user_id", "ts"),
        key="user_id",
        ts_col="ts",
        gap_minutes=30,
    ).select("user_id", "session_start", "session_end", "n_events")

    n_emitted = emitted.count()
    n_matched = emitted.join(
        batch,
        ["user_id", "session_start", "session_end", "n_events"],
        "left_semi",
    ).count()
    unemitted = batch.join(
        emitted.select("user_id", "session_start"),
        ["user_id", "session_start"],
        "left_anti",
    )
    last_starts = batch.groupBy("user_id").agg(
        F.max("session_start").alias("session_start")
    )
    n_unemitted_non_tail = unemitted.join(
        last_starts, ["user_id", "session_start"], "left_anti"
    ).count()

    row = (
        batch.count(),
        n_matched == n_emitted,
        n_unemitted_non_tail == 0,
    )
    return spark.createDataFrame(
        [row],
        "n_batch_sessions long, all_emitted_match_batch boolean, "
        "unemitted_are_open_tails boolean",
    )


@register(
    "stream_dedup_bounded_state",
    "SELECT DISTINCT user_id, event_type FROM events",
    tags=["streaming", "dedup"],
)
def stream_dedup_bounded_state(spark, sf_dir):
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` expires each seen-key entry once
    the watermark passes its event time — the form that can run forever
    at 100 TB (plain ``dropDuplicates`` state grows with the distinct-
    key count unboundedly).  With a watermark wider than the finite
    test stream's timespan no key expires mid-drain, so the drained
    output must still equal the batch DISTINCT exactly — which is
    precisely the correctness contract: bounding state must not change
    results within the lateness horizon."""
    from ffiec_pq_spark.streaming.events import stream_events

    stream = (
        stream_events(spark, sf_dir)
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"stream_dedup_wm_{next(_SINK_IDS)}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_upsert_latest",
    """
    WITH latest AS (
      SELECT user_id, event_type, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT event_type,
           count(*) AS n_users,
           round(sum(value), 4) AS total_latest_value
    FROM latest WHERE rn = 1 GROUP BY event_type
    """,
    tags=["streaming", "merge"],
)
def stream_upsert_latest(spark, sf_dir):
    """Incremental MERGE via ``foreachBatch`` — the production pattern
    for maintaining a keep-latest table off a stream (CDC / restated
    facts): the events table is staged as four files and streamed one
    file per micro-batch (genuinely multi-batch), and each batch folds
    into an accumulating per-user latest-event state with ONE grouped
    ``max(struct(ts, event_id, payload))`` — associative and
    tie-broken by the unique event_id, so the final state is identical
    for ANY batch order and equals the batch window answer the oracle
    replays.  At 100 TB the state write is MERGE INTO a partitioned
    table (Delta/Iceberg); the versioned parquet state here is the same
    dataflow.

    The returned aggregate (5 rows) is driver-materialized so the
    staging directory can be removed before returning."""
    from ffiec_pq_spark.session import ensure_session_confs, load_table

    ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    with fold_workdir("upsert", one_off=True) as workdir:
        src = stage_chunks(ev, F.pmod(F.col("event_id"), F.lit(4)), 4, workdir)
        state = new_state("state")
        payload = F.struct("ts", "event_id", "event_type", "value")

        def step(batch_df, epoch_id):
            reduced = batch_df.groupBy("user_id").agg(
                F.max(payload).alias("s")
            )
            if state["state"] is not None:
                prev = read_state(spark, state["state"])
                reduced = (
                    prev.select("user_id", payload.alias("s"))
                    .unionByName(reduced)
                    .groupBy("user_id")
                    .agg(F.max("s").alias("s"))
                )
            return {"state": reduced.select("user_id", "s.*")}

        drain(
            spark, src, EVENT_SCHEMA, versioned_fold(state, workdir, step),
            workdir,
        )
        # no events: no file staged, no trigger ran; fold an empty batch
        final = (step(ev.limit(0), -1)["state"] if state["state"] is None
                 else read_state(spark, state["state"]))
        agg = final.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_latest_value"),
        )
        rows = agg.collect()  # <= |event types| rows, sanctioned
        return local_frame(spark, rows, agg.schema)


@register(
    "stream_tier_rollup",
    None,  # placeholder; replaced below with the batch-equivalent SQL
    tags=["streaming", "range-join"],
)
def stream_tier_rollup(spark, sf_dir):
    """Stream-static enrichment: the event STREAM joins the static tier
    dimension through the bin-decomposed range join (the same
    range_join_binned operator the batch query uses — stream-static
    equi-joins are stateless in Structured Streaming, so the tier
    lookup adds no state store), then a complete-mode rollup per tier,
    drained with availableNow.  Must equal the batch BETWEEN join
    exactly — the incremental execution of the range-join plan
    converges to the batch answer."""
    from ffiec_pq_spark.operators.timeseries import range_join_binned
    from ffiec_pq_spark.queries.timeseries import _BIN_W, _TIERS
    from ffiec_pq_spark.streaming.events import stream_events

    stream = stream_events(spark, sf_dir)
    tiers = local_frame(spark, _TIERS, "tier string, lo double, hi double")
    joined = range_join_binned(stream, "value", tiers, _BIN_W)
    agg = joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    name = f"stream_tier_rollup_{next(_SINK_IDS)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _patch_stream_tier_oracle() -> None:
    """Attach the batch-equivalent SQL (shared tier literals with the
    batch query) — done post-definition to avoid a circular import of
    queries.timeseries at module-load time."""
    from ffiec_pq_spark.catalog import _REGISTRY
    from ffiec_pq_spark.queries.timeseries import _TIERS_VALUES

    _REGISTRY["stream_tier_rollup"].oracle = f"""
    WITH tiers(tier, lo, hi) AS (VALUES {_TIERS_VALUES})
    SELECT tier,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
    GROUP BY tier
    """


_patch_stream_tier_oracle()


@register(
    "stream_incremental_agg",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
    tags=["streaming", "merge"],
)
def stream_incremental_agg(spark, sf_dir):
    """Incremental ADDITIVE aggregate maintenance via ``foreachBatch``
    — the materialized-view counterpart of ``stream_upsert_latest``
    (whose merge is keep-latest, not additive): per-(user, type)
    count/sum partials fold into an accumulating state table by
    addition each micro-batch (the events stage as four files, one per
    batch — genuinely multi-batch), and the drained state aggregates
    to exactly the batch GROUP BY the oracle runs.  Addition is
    associative+commutative, so the state is batch-order-independent;
    at 100 TB the state write is MERGE INTO on the grouping key, and
    each batch touches only the keys it saw."""
    from ffiec_pq_spark.session import ensure_session_confs, load_table

    ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    with fold_workdir("incagg", one_off=True) as workdir:
        src = stage_chunks(ev, F.pmod(F.col("event_id"), F.lit(4)), 4, workdir)
        state = new_state("state")

        def step(batch_df, epoch_id):
            part = batch_df.groupBy("user_id", "event_type").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
            )
            if state["state"] is not None:
                prev = read_state(spark, state["state"])
                part = (
                    prev.unionByName(part)
                    .groupBy("user_id", "event_type")
                    .agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
                )
            return {"state": part}

        drain(
            spark, src, EVENT_SCHEMA, versioned_fold(state, workdir, step),
            workdir,
        )
        # no events: no file staged, no trigger ran; fold an empty batch
        final = (step(ev.limit(0), -1)["state"] if state["state"] is None
                 else read_state(spark, state["state"]))
        agg = final.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n").alias("n_events"),
            F.round(F.sum("v"), 4).alias("total_value"),
        )
        rows = agg.collect()  # <= |event types| rows, sanctioned
        return local_frame(spark, rows, agg.schema)
