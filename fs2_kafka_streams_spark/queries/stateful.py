"""Stateful / streaming-executed queries (SURVEY §2 Q36, Q38).

These run REAL Structured Streaming queries (file replay → watermarked or
stateful operators → sink) and return the final result as a batch
DataFrame, so the driver's collect-and-compare works unchanged.
"""

from __future__ import annotations

from fs2_kafka_streams_spark.queries import query
from fs2_kafka_streams_spark.streaming.watermark import (
    ORACLE_Q36,
    tumbling_with_watermark,
)
from fs2_kafka_streams_spark.streaming.stateful import latest_by_key_streaming


@query(
    "q36_watermark_late_drop",
    oracle=ORACLE_Q36,
    tags=("streaming", "watermark"),
)
def q36_watermark_late_drop(spark, sf_dir):
    """Watermarked tumbling aggregation, append mode, late rows dropped.

    Runs a real streaming query over the deterministic hash-bucket replay;
    the oracle models the watermark trajectory in SQL (see
    ``streaming/watermark.py``).
    """
    return tumbling_with_watermark(spark, sf_dir)


#: The latest-by-key contract in SQL — ONE definition for every entry that
#: claims it (q38, q38b here; q67/q75 in extensions.py import it): the
#: (ts, event_id)-max row per user. A tie-break change edits this constant
#: or nothing.
LATEST_BY_KEY_ORACLE = """
    SELECT user_id, event_id, ts, event_type, value, props
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """


@query(
    "q38_stateful_latest",
    oracle=LATEST_BY_KEY_ORACLE,
    tags=("streaming", "stateful", "core"),
)
def q38_stateful_latest(spark, sf_dir):
    """Streaming latest-by-key equals batch Q17 — stream-table duality,
    the reference's core claim (A7/A9, ``streams/Tables.scala:110-138``).
    The fold is Spark's native streaming ``max_by`` aggregation on the
    RocksDB state store, the batch twin's plan run across micro-batches
    (``streaming/stateful.py::_native_fold``)."""
    return latest_by_key_streaming(spark, sf_dir)


from fs2_kafka_streams_spark.streaming.stateful import HAS_TWS  # noqa: E402

if HAS_TWS:  # pragma: no cover — needs google.protobuf (absent here)

    @query(
        "q38b_stateful_latest_tws",
        oracle=LATEST_BY_KEY_ORACLE,
        tags=("streaming", "stateful", "core"),
    )
    def q38b_stateful_latest_tws(spark, sf_dir):
        """Same contract on the Spark 4 ``transformWithStateInPandas`` API
        with a typed ValueState handle — the closest analogue of the
        reference's typed RocksDB table (``Table.scala:115-137``,
        ``Key.scala:3-17``). Registered only where the API's protobuf
        dependency exists (falls back to q38 otherwise)."""
        from fs2_kafka_streams_spark.streaming.stateful import (
            latest_by_key_tws,
        )

        return latest_by_key_tws(spark, sf_dir)
