"""Batch twins of the Structured Streaming pipelines (streaming/windows.py).

Each builder calls the SAME transformation function the streaming
pipeline uses (tumbling/sliding/session windows) on the batch events
table, so the DuckDB oracle checks the exact logic that runs under
readStream; tests/test_streaming.py separately asserts
stream(availableNow) ≡ batch on identical input.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tmp_parquet_merge_spark.registry import query, t
from tmp_parquet_merge_spark.streaming.stateful import user_profiles_batch
from tmp_parquet_merge_spark.streaming.windows import (
    attribution_join,
    dedup_events,
    sessionized,
    sliding_counts,
)


@query(
    "q_window_sliding",
    bench=False,
    oracle="""
        WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
        SELECT time_bucket(INTERVAL 30 MINUTE, ts)
                   - CAST(k AS INTEGER) * INTERVAL 30 MINUTE AS w_start,
               event_type,
               COUNT(*) AS n_events
        FROM e CROSS JOIN (VALUES (0), (1)) AS off(k)
        GROUP BY 1, 2
    """,
)
def q_window_sliding(spark, sf_dir):
    """Sliding 1-hour windows hopping every 30 minutes: each event in
    exactly 2 epoch-aligned windows (oracle enumerates both hops)."""
    return sliding_counts(
        t(spark, sf_dir, "events"), window="1 hour", slide="30 minutes"
    )


@query(
    "q_stream_dedup",
    oracle="""
        SELECT event_id, event_type, value FROM events
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Exactly-once repair: a doubled event feed deduped back to one
    row per event_id — the batch twin of
    ``dropDuplicatesWithinWatermark`` (same ``dedup_events`` body runs
    under readStream; tests assert stream ≡ batch).  Oracle: doubling
    then deduping is the identity over the unique-keyed events table."""
    e = t(spark, sf_dir, "events")
    doubled = e.unionAll(e)
    return dedup_events(doubled).select("event_id", "event_type", "value")


@query(
    "q_window_session",
    oracle="""
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        m AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER win IS NULL
                             OR ts - LAG(ts) OVER win > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW win AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
            SELECT user_id, ts, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        )
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, sid
    """,
)
def q_window_session(spark, sf_dir):
    """Session windows (30-minute gap) per user — Spark's native
    session_window; oracle is the equivalent gaps-and-islands SQL.
    A new session starts only when the gap from the previous event is
    STRICTLY greater than 30 min: session_window merges an event
    landing exactly at prev + gap (touching windows coalesce —
    verified against Spark 4.1.2; an ``>=`` oracle splits there and
    diverges on exact-gap ties).  Session end = last event + gap."""
    return sessionized(t(spark, sf_dir, "events"), gap="30 minutes")


@query(
    "q_attribution",
    oracle="""
        WITH e AS (SELECT event_id, user_id, event_type,
                          CAST(ts AS TIMESTAMP) AS ts
                   FROM events)
        SELECT v.user_id,
               v.event_id AS view_id,
               p.event_id AS purchase_id,
               epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        FROM e v JOIN e p
          ON v.user_id = p.user_id
         AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def q_attribution(spark, sf_dir):
    """View→purchase attribution: every purchase joined to the same
    user's views from the preceding hour — the batch twin of the
    stream-stream interval join (streaming/windows.py:
    attribution_join; tests assert stream(availableNow) ≡ batch).
    Batch plan: one shuffle on user_id, per-user interval match; the
    streaming plan buffers watermark-bounded per-user state."""
    e = t(spark, sf_dir, "events")
    return attribution_join(
        e.filter(F.col("event_type") == "view"),
        e.filter(F.col("event_type") == "purchase"),
    )


@query(
    "q_stateful_profile",
    oracle="""
        WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                          value
                   FROM events)
        SELECT user_id, event_id,
               COUNT(*) OVER w AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                   AS sum_value,
               MAX(ts) OVER w AS last_ts
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    """,
)
def q_stateful_profile(spark, sf_dir):
    """The custom stateful operator's state machine (streaming/
    stateful.py ``user_profiles``: per-user running count / sum /
    last-seen in ``applyInPandasWithState``) replayed in batch via
    window functions, one row per event = the state after that event.
    The per-user last row equals the streaming operator's final state
    (asserted in tests/test_salting_stateful.py), so the arbitrary-
    state path carries oracle evidence like the rest of the streaming
    family."""
    return user_profiles_batch(t(spark, sf_dir, "events"))


@query(
    "q_stream_upsert",
    oracle="""
        WITH e AS (
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                   event_type, value
            FROM events
        ),
        r AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_events
            FROM e
        )
        SELECT user_id,
               event_type AS last_event_type,
               value AS last_value,
               ts AS last_ts,
               event_id AS last_event_id,
               n_events
        FROM r WHERE rn = 1
    """,
)
def q_stream_upsert(spark, sf_dir):
    """foreachBatch keyed-upsert SINK, batch twin: one profile row per
    user (latest event last-writer-wins + lifetime count) — the
    continuously-updated TABLE a streaming merge maintains
    (streaming/sinks.py: per micro-batch last-writer reduce + keyed
    MERGE + atomic swap, Delta/Iceberg's commit shape without the
    table format).  The same ``latest_per_user`` body runs on both
    paths; tests/test_streaming.py asserts the multi-batch streamed
    target ≡ this batch result."""
    from tmp_parquet_merge_spark.streaming.sinks import latest_per_user

    return latest_per_user(t(spark, sf_dir, "events"))


@query(
    "q_late_data",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        ),
        w AS (
            SELECT user_id, us,
                   MAX(us) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS wm
            FROM e
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN COALESCE(wm - us, 0) > 600000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST(MAX(GREATEST(COALESCE(wm - us, 0), 0)) AS BIGINT)
                   AS max_late_us
        FROM w GROUP BY 1
    """,
)
def q_late_data(spark, sf_dir):
    """Watermark late-data accounting, batch-replayable: per user
    stream (arrival order = event_id), an event is LATE when the
    user's event-time high-watermark has already advanced more than
    10 minutes past it — exactly the rows
    ``withWatermark("ts", "10 minutes")`` would silently drop from a
    keyed stateful aggregation.  Structured Streaming exposes no
    per-key dropped-late-rows counter, so replaying the watermark
    rule on the batch mirror is how a pipeline SIZES its delay before
    losing data (streaming/windows.py::late_data_accounting — integer
    microsecond arithmetic on unix_micros ≙ epoch_us, one exchange on
    user_id, running-max keyed state shape)."""
    from tmp_parquet_merge_spark.streaming.windows import late_data_accounting

    return late_data_accounting(
        t(spark, sf_dir, "events"), threshold="10 minutes"
    )
