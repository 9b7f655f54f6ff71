"""Event-stream analytics over the events table: gap-based sessionization.

The reference has no event data (SURVEY.md §2.12 — no windows/sessions), but
a crawl-pipeline engine needs this shape for its operational telemetry
(page-fetch events, lineage heartbeats). Native window functions only, with
an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SESSION_GAP_MINUTES = 30


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds 30 minutes. Returns one row per session:
    (user_id, session_id, n_events, session_start, session_end, total_value).

    Plan shape: one shuffle on user_id (window partition), then lag/cumsum —
    no self-joins. At scale the window partition key is the natural
    distribution key; skewed power-users split via AQE."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # interval arithmetic: timezone-free (works for TIMESTAMP_NTZ), exact,
    # and identical in the DuckDB oracle. NOTE: the fixture parquet stores
    # naive micros that Spark reads as TIMESTAMP_LTZ, so session rendering
    # matches DuckDB's naive values only under
    # spark.sql.session.timeZone=UTC — pinned in every
    # repo-controlled session builder (conftest/bench/scale_worker/api);
    # a non-UTC driver session shifts hours vs the oracle (review finding)
    prev = F.lag("ts").over(w)
    gap_over = F.col("ts") - prev > F.expr(f"INTERVAL {SESSION_GAP_MINUTES} MINUTES")
    sess = (
        events.withColumn(
            "new_session",
            F.when(prev.isNull() | gap_over, 1).otherwise(0),
        )
        .withColumn("session_seq", F.sum("new_session").over(w))
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum("value").alias("total_value"),
        )
        .withColumnRenamed("session_seq", "session_id")
    )
