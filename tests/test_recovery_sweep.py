"""Every-boundary crash-recovery sweep (round 10).

``tests/test_cep_recovery.py`` kills each hard state shape at ONE
mid-replay point. This sweep strengthens that to the full failure
lattice the reference's replay-idempotence contract implies
(``streams/Tables.scala:127-132`` — a consumer may die after ANY commit
and must materialize the same table on resume):

- crash after EVERY trigger boundary, including the final data batch
  (the resume then re-runs only the crashed batch — the case the
  single-point tests never hit);
- DOUBLE crash: die, resume, die again one batch later, resume — the
  recovery path itself must be re-entrant (a resume that half-restored
  state and then died is just another crash);
- the TWS timer shape (q57b): event-time TIMERS and the watermark are
  part of the RocksDB checkpoint; a resume that lost either would fire
  expiries early (missing matches) or never (state leak, and for
  output-bound patterns, spurious matches). Neither
  ``test_cep_recovery`` nor ``test_cep_tws`` covers a mid-replay kill
  of this shape.

Sink discipline is the same idempotent overwrite-by-batchId as
``test_cep_recovery`` — the crashed batch legitimately re-runs under
the SAME batch id (offset-log replay) and the overwrite absorbs it.
"""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.catalog import Catalog
from fs2_kafka_streams_spark.streaming.conf import (
    STREAM_STATE_PARTITIONS,
    pinned_conf,
)
from tests.conftest import SF_SMOKE


class _InjectedCrash(RuntimeError):
    pass


def _multi_crash_run(
    spark,
    build_stream,
    out,
    ckpt,
    crash_points,
    extra_conf=None,
):
    """Run ``build_stream`` to completion through a checkpointed
    idempotent sink, injecting a hard sink failure after
    ``crash_points[i]`` batches on the i-th attempt, then one final
    clean attempt that drains the replay.

    Asserts, per resume, that the crashed batch re-runs under exactly
    its original batch id (a resume that SKIPPED the crashed batch —
    offsets committed despite the sink failure — or one that restarted
    from batch 0 — state/offset log lost — both fail here). Returns the
    read-back union of every batch's output with the ``bid`` partition
    column dropped."""
    out, ckpt = str(out), str(ckpt)
    confs = {"spark.sql.shuffle.partitions": STREAM_STATE_PARTITIONS}
    if extra_conf:
        confs.update(extra_conf)
    all_runs: list[list[int]] = []

    with pinned_conf(spark, confs):
        for k in crash_points:
            bids: list[int] = []

            def crash_sink(bdf, bid, _bids=bids, _k=k):
                bdf.write.mode("overwrite").parquet(f"{out}/bid={bid}")
                _bids.append(bid)
                if len(_bids) >= _k:
                    raise _InjectedCrash("injected crash")

            q = (
                build_stream()
                .writeStream.outputMode("append")
                .foreachBatch(crash_sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            with pytest.raises(StreamingQueryException):
                q.awaitTermination()
            assert len(bids) == k, "crash fired at the wrong boundary"
            all_runs.append(bids)

        bids_final: list[int] = []

        def sink(bdf, bid):
            bdf.write.mode("overwrite").parquet(f"{out}/bid={bid}")
            bids_final.append(bid)

        q = (
            build_stream()
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        all_runs.append(bids_final)

    for prev, cur in zip(all_runs, all_runs[1:]):
        assert cur, "a resume processed no batches at all"
        # the crashed batch's offsets never committed: the resume must
        # re-serve it under the SAME id, not skip ahead and not rewind
        assert min(cur) == max(prev), (
            f"resume started at bid {min(cur)}, crashed run ended at "
            f"{max(prev)} — crashed batch skipped or replay rewound"
        )
    return spark.read.option("basePath", out).parquet(out).drop("bid")


def _multiset(df):
    return sorted(map(tuple, df.collect()))


# ---- APWS pattern / funnel: crash at every boundary -----------------------
# 4-file time-ordered replay at 2 files/trigger = data batches {0, 1};
# crash_after=2 kills the FINAL data batch, so the resume's only work is
# re-running it (no-progress case the single-point harness rejects).


@pytest.mark.parametrize("crash_after", [1, 2])
def test_pattern_recovers_at_every_boundary(spark, tmp_path, crash_after):
    from fs2_kafka_streams_spark.streaming.cep import (
        pattern_match_batch,
        pattern_matches_stream,
    )

    got = _multi_crash_run(
        spark,
        lambda: pattern_matches_stream(spark, SF_SMOKE),
        tmp_path / "out", tmp_path / "ck",
        crash_points=[crash_after],
    )
    batch = pattern_match_batch(Catalog(spark, SF_SMOKE).events)
    assert _multiset(got.select(*batch.columns)) == _multiset(batch)


@pytest.mark.parametrize("crash_after", [1, 2])
def test_funnel_recovers_at_every_boundary(spark, tmp_path, crash_after):
    from fs2_kafka_streams_spark.streaming.cep import (
        funnel_match_batch,
        funnel_matches_stream,
    )

    got = _multi_crash_run(
        spark,
        lambda: funnel_matches_stream(spark, SF_SMOKE),
        tmp_path / "out", tmp_path / "ck",
        crash_points=[crash_after],
    )
    batch = funnel_match_batch(Catalog(spark, SF_SMOKE).events)
    assert _multiset(got.select(*batch.columns)) == _multiset(batch)


# ---- LEFT OUTER join: the boundaries the single-point test skips ----------
# 4 triggers total (2 data + 1 sentinel + 1 engine no-data flush);
# test_cep_recovery covers crash_after=2. Here: the first data batch and
# the SENTINEL batch (whose watermark advance unlocks the outer-NULL
# flush — losing it on resume would strand unmatched state forever).


def _outer_join_batch_twin(spark):
    ev = Catalog(spark, SF_SMOKE).events
    a, b = ev.alias("a"), ev.alias("b")
    return a.join(
        b,
        on=[
            F.col("a.user_id") == F.col("b.user_id"),
            F.col("a.event_id") < F.col("b.event_id"),
            F.col("b.ts").between(
                F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"),
                F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"),
            ),
        ],
        how="left_outer",
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    )


@pytest.mark.parametrize("crash_after", [1, 3])
def test_outer_join_recovers_at_remaining_boundaries(
    spark, tmp_path, crash_after
):
    from fs2_kafka_streams_spark.queries.streaming_ext import outer_join_stream

    got = _multi_crash_run(
        spark,
        lambda: outer_join_stream(spark, SF_SMOKE),
        tmp_path / "out", tmp_path / "ck",
        crash_points=[crash_after],
    ).filter(F.col("user_id") != -1)
    batch = _outer_join_batch_twin(spark)
    assert _multiset(got.select(*batch.columns)) == _multiset(batch)


def test_outer_join_survives_double_crash(spark, tmp_path):
    """Re-entrant recovery: die after batch 1, resume, die again one
    batch later, resume again — the second resume starts from a
    checkpoint that was itself written by a recovery run."""
    from fs2_kafka_streams_spark.queries.streaming_ext import outer_join_stream

    got = _multi_crash_run(
        spark,
        lambda: outer_join_stream(spark, SF_SMOKE),
        tmp_path / "out", tmp_path / "ck",
        crash_points=[1, 2],
    ).filter(F.col("user_id") != -1)
    batch = _outer_join_batch_twin(spark)
    assert _multiset(got.select(*batch.columns)) == _multiset(batch)


# ---- TWS timers: crash-resume of timer + watermark checkpoint state -------

GAP = "120 minutes"


def test_tws_pattern_recovers_mid_replay(spark, tmp_path):
    """Kill the transformWithStateInPandas pattern query after its first
    batch; the resume restores ValueState AND registered event-time
    timers AND the watermark from the RocksDB checkpoint. A resume that
    dropped timers would leak base state (invisible here) — but one that
    mis-restored the watermark or the base ValueState emits wrong
    matches against the batch twin, which is what this pins."""
    from fs2_kafka_streams_spark.streaming import stateful
    from fs2_kafka_streams_spark.streaming.cep import (
        pattern_match_batch,
        pattern_matches_stream_tws,
    )

    if not stateful.HAS_TWS:
        pytest.skip("transformWithStateInPandas gate closed")
    from fs2_kafka_streams_spark.streaming.conf import STREAM_PERF_CONF
    from fs2_kafka_streams_spark.streaming.stateful import _tws_prepare

    extra = dict(STREAM_PERF_CONF)
    extra.update(_tws_prepare(spark))
    got = _multi_crash_run(
        spark,
        lambda: pattern_matches_stream_tws(spark, SF_SMOKE, gap=GAP),
        tmp_path / "out", tmp_path / "ck",
        crash_points=[1],
        extra_conf=extra,
    )
    batch = pattern_match_batch(Catalog(spark, SF_SMOKE).events, gap=GAP)
    assert _multiset(got.select(*batch.columns)) == _multiset(batch)


# ---- streaming dedup + watermarked session windows -------------------------
# The remaining stateful shapes: the seen-key dedup set, and session-
# window state whose APPEND emission depends on the RESTORED watermark
# (a resume that lost it would emit sessions early/late or duplicate
# them across the crash boundary).


def test_stream_dedup_recovers_mid_replay(spark, tmp_path):
    from fs2_kafka_streams_spark.queries.streaming_ext import _events_stream

    got = _multi_crash_run(
        spark,
        lambda: _events_stream(spark, SF_SMOKE, files_per_trigger=2)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"]),
        tmp_path / "out", tmp_path / "ck",
        crash_points=[1],
    )
    ev = Catalog(spark, SF_SMOKE).events
    want = _multiset(ev.select("user_id", "event_type").distinct())
    assert _multiset(got) == want


def test_session_window_append_recovers_mid_replay(spark, tmp_path):
    import datetime

    from fs2_kafka_streams_spark.queries.streaming_ext import _events_stream

    def build():
        src = _events_stream(
            spark, SF_SMOKE, files_per_trigger=2, time_ordered=True,
            ts_type="timestamp",
        ).withWatermark("ts", "10 minutes")
        return (
            src.groupBy(
                F.session_window("ts", "30 minutes").alias("w"),
                F.col("user_id"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").cast("timestamp_ntz").alias("session_start"),
                F.col("w.end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
            )
        )

    got = _multi_crash_run(
        spark, build, tmp_path / "out", tmp_path / "ck",
        crash_points=[1],
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    # expectation = the duality test's: batch sessions closed by the
    # final watermark (max ts - delay); open sessions stay withheld
    from fs2_kafka_streams_spark.queries.windows import (
        _sessions,
        _timed_events,
    )

    batch = _sessions(_timed_events(spark, SF_SMOKE))
    max_ts = Catalog(spark, SF_SMOKE).events.agg(F.max("ts")).collect()[0][0]
    final_wm = max_ts - datetime.timedelta(minutes=10)
    want = sorted(
        tuple(r) for r in batch.collect() if r["session_end"] <= final_wm
    )
    assert sorted(map(tuple, got.select(*batch.columns).collect())) == want
    assert len(want) > 0
