"""Running per-key totals via Spark 4's ``transformWithStateInPandas``
— the successor API to ``applyInPandasWithState`` (which powers the
registered stateful sessionizer, streaming/stateful.py).

GATED: the transformWithState Python state client speaks protobuf to
the JVM state server, so the op requires the ``protobuf`` package at
runtime.  :func:`tws_available` reports whether this environment can
run it; :func:`running_totals_tws` raises a clear ``RuntimeError``
otherwise (this container ships no protobuf, so the op is exercised by
a skip-marked parity test rather than the oracle registry — the
equivalent REGISTERED stateful coverage is the applyInPandasWithState
sessionizer and the foreachBatch merges).

Semantics: a per-user ValueState carries running (count, sum); each
micro-batch folds its rows in and emits the running totals; the LAST
emission per key (monotone max count) equals the batch GROUP BY.
State is one tuple per key; the same processor runs unmodified against
an unbounded source.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def tws_available() -> bool:
    """True when the transformWithState Python runtime deps exist."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_totals_tws(spark, sf_dir: str):
    """(user_id, n_events, total_value) — the drained final state of
    the transformWithStateInPandas running-totals processor over a
    four-batch staged event stream.  Must equal
    ``SELECT user_id, count(*), round(sum(value), 4) ... GROUP BY 1``.
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires the protobuf package "
            "(state-server protocol); not available in this environment"
        )
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from ffiec_pq_spark.session import ensure_session_confs, load_table
    from ffiec_pq_spark.streaming.events import read_event_stream
    from ffiec_pq_spark.streaming.state import fold_workdir, stage_chunks

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("totals", "n bigint, v double")

        def handleInputRows(self, key, rows, timerValues):
            prev = self.state.get() if self.state.exists() else None
            n = int(prev[0]) if prev else 0
            v = float(prev[1]) if prev else 0.0
            for pdf in rows:
                n += len(pdf)
                v += float(pdf["value"].sum())
            self.state.update((n, v))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [v]}
            )

        def close(self) -> None:
            pass

    ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    with fold_workdir("tws", one_off=True) as workdir:
        src = stage_chunks(ev, F.pmod(F.col("event_id"), F.lit(4)), 4, workdir)
        emitted = (
            read_event_stream(spark, src)
            .groupBy("user_id")
            .transformWithStateInPandas(
                RunningTotals(),
                outputStructType=(
                    "user_id bigint, n_events bigint, total_value double"
                ),
                outputMode="Update",
                timeMode="None",
            )
        )
        q = (
            emitted.writeStream.outputMode("update")
            .format("memory")
            .queryName("stream_tws_parity")
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        from pyspark.sql import Window

        drained = spark.table("stream_tws_parity")
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        final = (
            drained.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                "n_events",
                F.round("total_value", 4).alias("total_value"),
            )
        )
        rows = final.collect()
        from ffiec_pq_spark.session import local_frame

        return local_frame(spark, rows, final.schema)
