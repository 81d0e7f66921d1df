"""Watermarked tumbling-window aggregation with late-data drop (Q36).

A real Structured Streaming query over the deterministic file replay:
because micro-batch k is exactly hash-bucket k of the events table (see
:mod:`replay`), the watermark trajectory — and therefore which late rows are
dropped and which windows finalize — is a pure function of the data. The
SQL model of that trajectory (the Q36 oracle):

- the watermark APPLIED to batch k's input lags one batch behind the
  one computed from batch k-1's data (verified empirically on Spark 4.1:
  progress reports wm_k = max(ts over batches < k) − delay, but the
  late-row filter in batch k uses wm_{k-1}) — so the effective drop
  threshold for bucket k is max(ts over buckets 0..k-2) − delay
- a row is DROPPED iff its window's end <= that threshold (the window's
  state has been evicted; a late row into a still-open window is accepted
  even if ts < watermark)
- a window EMITS (append mode) iff window_end <= final watermark
  = max(all ts) − delay (the trailing no-data batch finalizes state)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.canonical import dsum, measure
from fs2_kafka_streams_spark.streaming.replay import N_FILES, replay_dir
from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA

DELAY = "10 minutes"


def tumbling_with_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling counts with a 10-minute watermark, append mode.

    Watermarks require TIMESTAMP (not NTZ), so the parquet µs values are read
    as session-local instants and the window bounds are cast back to NTZ on
    output. The session timezone is pinned to UTC for the duration of the
    query (and restored after): under a DST-having zone the naive→instant
    mapping is non-linear, which would shift watermark arithmetic across DST
    boundaries relative to the wall-clock SQL oracle.
    """
    from fs2_kafka_streams_spark.streaming.conf import pinned_conf

    with pinned_conf(spark, {"spark.sql.session.timeZone": "UTC"}):
        return _run_watermark_query(spark, sf_dir)


def _run_watermark_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fs2_kafka_streams_spark.streaming.run import run_to_memory

    src = (
        spark.readStream.schema(EVENTS_SCHEMA.replace("timestamp_ntz", "timestamp"))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir(sf_dir, "events"))
    )
    agg = (
        src.withWatermark("ts", DELAY)
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(measure("value")).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n",
            "sum_value",
        )
    )
    # the caller (tumbling_with_watermark) pins UTC; the drain pins
    # STREAM_PERF_CONF and 4 state partitions over it.
    # 4 state partitions (r12 probe, scripts/stream_partitions_probe.py):
    # mins 3.52 s @16 / 2.96 @8 / 2.58 @4 (1.36×) — 5 triggers
    # (1 file/trigger + the load-bearing no-data finalization batch)
    # multiply the per-store open/commit cost, and the global-window agg
    # has no key parallelism worth 16 stores. A real cluster sets this
    # higher before first start (streaming/conf.py note).
    return run_to_memory(
        spark, agg, "q36_sink",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )


ORACLE_Q36 = f"""
WITH tagged AS (
  -- bucket model mirrors replay_dir exactly: id % N for keyed rows,
  -- absolute ROW POSITION % N for NULL-id rows (the r11 total split's
  -- round-robin last resort; row_number() OVER () is scan order in
  -- DuckDB, which preserves parquet insertion order) — an id-only model
  -- dropped NULL-id rows from the trajectory entirely (f = NULL joins
  -- no bucket), undercounting kept rows (r11 NULL-id streaming sweep)
  SELECT *, CASE WHEN event_id IS NOT NULL THEN event_id % {N_FILES}
                 ELSE (row_number() OVER () - 1) % {N_FILES} END AS f,
         time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS w_end
  FROM events
), allf AS (
  -- every bucket id, INCLUDING empty ones: Spark still runs an empty
  -- micro-batch (watermark unchanged), so the ROWS frame below must
  -- count batches, not just the non-empty buckets present in the data
  SELECT unnest(range(0, {N_FILES})) AS f
), fmax AS (
  SELECT a.f, max(t.ts) AS mx
  FROM allf a LEFT JOIN tagged t ON t.f = a.f GROUP BY a.f
), wm AS (
  -- floored at epoch: Spark's INITIAL watermark is 0 ms (1970-01-01),
  -- not -infinity, so a pre-epoch event time is late-by-construction
  -- even in the very first batch (r10 far-date sweep: a 1950 window
  -- the unfloored model kept was dropped by the engine)
  SELECT f, greatest(
           coalesce(max(mx) OVER (ORDER BY f
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                    - INTERVAL '10 minutes',
                    TIMESTAMP '1970-01-01 00:00:00'),
           TIMESTAMP '1970-01-01 00:00:00') AS wm_before
  FROM fmax
), kept AS (
  SELECT t.* FROM tagged t JOIN wm ON t.f = wm.f
  WHERE t.w_end > wm.wm_before
), final_wm AS (
  SELECT max(ts) - INTERVAL '10 minutes' AS fw FROM events
)
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
       time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes'
         AS window_end,
       CAST(count(*) AS BIGINT) AS n,
       cast(sum(cast((CASE WHEN abs(value) < 1e14 THEN value END)
                as decimal(18,2))) as double) AS sum_value
FROM kept, final_wm
GROUP BY 1, 2, fw
HAVING window_end <= fw
"""
