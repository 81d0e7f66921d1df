"""Time-window queries (SURVEY §2 Q33–Q37): streaming-shape semantics,
batch-replayed deterministically.

`F.window` / `F.session_window` are the same expressions Structured
Streaming uses for its windowed state — running them in batch gives the
stream-batch duality the reference's table⇄changelog claim rests on.
The true streaming paths (file replay + watermark + state store) live in
:mod:`fs2_kafka_streams_spark.streaming` and are verified to equal these
batch results in the test suite.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fs2_kafka_streams_spark.catalog import Catalog
from fs2_kafka_streams_spark.canonical import (
    clamp_ts,
    dsum,
    measure,
    sql_clamp_ts,
)
from fs2_kafka_streams_spark.queries import query


#: Tumbling-window oracle, shared with the streaming twin (q33b): group on
#: the RAW bucket, clamp bounds only in the projection — bounds past the
#: Arrow ns range are saturated (canonical.clamp_ts, r11 fuzz seed 6)
_TUMBLING_SQL = f"""
    SELECT {sql_clamp_ts("bk")} AS window_start,
           {sql_clamp_ts("bk + INTERVAL '5 minutes'")} AS window_end,
           user_id, n, sum_value
    FROM (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS bk, user_id,
             CAST(count(*) AS BIGINT) AS n,
             cast(cast(sum(cast((CASE WHEN abs(value) < 1e14 THEN value END)
                      as decimal(18,2))) as string) as double) AS sum_value
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
"""

#: Sessionization oracle (classic gaps-and-islands), shared with q33b
_SESSION_SQL = f"""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
    ), sessions AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           {sql_clamp_ts("max(ts) + INTERVAL '30 minutes'")} AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, sid
"""


def _timed_events(spark, sf_dir):
    """The events table without NULL event-time rows.

    NULL event-time contract (docs/USAGE.md): ``F.window`` generates zero
    windows for a NULL timestamp, so Spark drops such rows implicitly; the
    filter makes the drop explicit and the oracles replay it — without it
    DuckDB's ``time_bucket(NULL)`` emits a NULL-window group Spark never
    produces (caught by the r10 NULL-corpus sweep)."""
    return Catalog(spark, sf_dir).events.filter(F.col("ts").isNotNull())


def _tumbling(events):
    """Count + sum per 5-minute tumbling window per user (batch or
    streaming ``events``)."""
    return (
        events.groupBy(
            F.window("ts", "5 minutes").alias("w"), F.col("user_id")
        )
        # measure(): non-finite/overflow metric values are NULL measures
        # on both engines (canonical.py) — r10 extreme-numerics sweep
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(measure("value")).alias("sum_value"))
        .select(
            clamp_ts(F.col("w.start")).alias("window_start"),
            clamp_ts(F.col("w.end")).alias("window_end"),
            "user_id",
            "n",
            "sum_value",
        )
    )


def _sessions(events):
    """Sessionization with a 30-minute inactivity gap (``session_window``;
    batch or streaming ``events``)."""
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            clamp_ts(F.col("w.end")).alias("session_end"),
            "n_events",
        )
    )


@query(
    "q33_time_windows",
    oracle=f"""
    SELECT 'tumbling' AS kind, window_start, window_end,
           CAST(user_id AS VARCHAR) AS key, n, sum_value
    FROM ({_TUMBLING_SQL})
    UNION ALL
    SELECT 'sliding', {sql_clamp_ts("ws")},
           {sql_clamp_ts("ws + INTERVAL '10 minutes'")}, event_type, n,
           CAST(NULL AS DOUBLE)
    FROM (
      SELECT time_bucket(INTERVAL '5 minutes', ts)
               - off * INTERVAL '5 minutes' AS ws,
             event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events CROSS JOIN (SELECT 0 AS off UNION ALL SELECT 1)
      WHERE ts IS NOT NULL
      GROUP BY 1, 2
    )
    UNION ALL
    SELECT 'session', session_start, session_end,
           CAST(user_id AS VARCHAR), n_events, CAST(NULL AS DOUBLE)
    FROM ({_SESSION_SQL})
    """,
    tags=("window", "streaming-shape"),
)
def q33_time_windows(spark, sf_dir):
    """Tumbling + sliding + session time windows in one entry (merge of
    q33/q34/q35), batch-replayed with the same `F.window` /
    `F.session_window` expressions Structured Streaming uses for its
    windowed state (stream-batch duality). The sliding arm counts per
    10-minute window sliding every 5 — each event lands in exactly two
    windows (the oracle materializes both membership copies). NULL
    event-time rows drop on every arm (:func:`_timed_events`)."""
    tumb = _tumbling(_timed_events(spark, sf_dir)).select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        "window_end",
        F.col("user_id").cast("string").alias("key"),
        "n",
        "sum_value",
    )
    slide = (
        _timed_events(spark, sf_dir)
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("sliding").alias("kind"),
            clamp_ts(F.col("w.start")).alias("window_start"),
            clamp_ts(F.col("w.end")).alias("window_end"),
            F.col("event_type").alias("key"),
            "n",
            F.lit(None).cast("double").alias("sum_value"),
        )
    )
    sess = _sessions(_timed_events(spark, sf_dir)).select(
        F.lit("session").alias("kind"),
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        F.col("user_id").cast("string").alias("key"),
        F.col("n_events").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    return tumb.unionAll(slide).unionAll(sess)


@query(
    "q37_dedup",
    oracle="""
    SELECT DISTINCT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE event_id IS NOT NULL
    UNION ALL
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    WHERE event_id IS NULL
    UNION ALL
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    WHERE event_id IS NULL
    """,
    tags=("dedup", "streaming-shape"),
)
def q37_dedup(spark, sf_dir):
    """Exact dedup by event_id: a doubled stream (events ∪ events)
    deduplicates back to the original — rows among duplicates are identical,
    so the kept row is deterministic. Streaming counterpart
    (`dropDuplicatesWithinWatermark`) is exercised in the streaming tests.

    The oracle's keyed half is DISTINCT, not the raw table (r11
    all-duplicates-events sweep): the raw-table oracle silently assumed
    event_id is UNIQUE in the source — true of the fixtures, not of a
    hostile topic. With repeated ids the engine keeps one row per id
    (50 of 200 on the all-dup corpus) while the raw-table oracle
    replayed all 200. DISTINCT over all six columns is identity on
    unique-id corpora (event_id alone distinguishes every row) and
    equals one-row-per-id whenever duplicate ids carry identical
    payloads — the exact-dedup contract. Duplicate ids with DIFFERENT
    payloads are out of contract on BOTH engines (dropDuplicates keeps
    an arbitrary row; any deterministic oracle would be a coin-flip).

    NULL-id contract (r10 cold review of this file): a NULL id is an
    UNKEYED record — Kafka itself rejects unkeyed produce to a compacted
    topic (InvalidRecordException), so compaction/dedup never merges them.
    ``dropDuplicates`` would instead group all NULL ids together and keep
    one ARBITRARY row (payload columns differ → nondeterministic result,
    diverging from any deterministic oracle), so NULL-id rows bypass the
    dedup and pass through as-is; the oracle replays the doubled copies."""
    e = Catalog(spark, sf_dir).events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    doubled = e.unionAll(e)
    keyed = doubled.filter(F.col("event_id").isNotNull()).dropDuplicates(
        ["event_id"]
    )
    return keyed.unionAll(doubled.filter(F.col("event_id").isNull()))
