"""Rebalance COMPOSED with stateful streaming (VERDICT r6 #7): a TWS
pattern query (q57b's operator — event-time timers expiring base state)
consuming the wire source through a PATTERN subscription, where a new
topic appears after the query has already committed offsets.

The reference composes exactly these two mechanisms: the rebalance
listener assigns newly discovered partitions mid-stream
(``client/RecordStream.scala:71-108``) while the table materialization
keeps folding whatever the subscription delivers (``streams/Tables.scala``)
and the wakeup-timeout discipline keeps expiring idle state
(``client/ConsumerAlgebra.scala:64-77``). Claims pinned here:

- the pattern fold stays ORACLE-CORRECT across the topic appearance
  (matches over both runs == the batch formulation over the union);
- nothing committed is re-served and nothing from the new topic is lost;
- event-time TIMERS still fire across the composition: bases from the
  first topic whose gap elapsed are evicted from the checkpoint's state
  (read back via the State Data Source), and survivors hold true state.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.streaming import stateful
from tests.conftest import SF_SMOKE

pytestmark = pytest.mark.skipif(
    not stateful.HAS_TWS, reason="transformWithStateInPandas gate closed"
)

GAP = "120 minutes"
GAP_US = 120 * 60 * 1_000_000


def _two_topic_broker(tmp_path):
    """events-0 = the sf0.001 fixture; events-1 = the same shape shifted to
    DISJOINT users/ids and timestamps strictly AFTER events-0's max (a
    topic appearing mid-stream must not sit behind the already-advanced
    watermark — with a 0-second delay an old-backlog topic would be late
    by construction; production sets the delay to cover expected backlog)."""
    t = pq.read_table(f"{SF_SMOKE}/events.parquet").to_pandas()
    broker = tmp_path / "broker"
    broker.mkdir()
    t.to_parquet(broker / "events-0.parquet", index=False)
    import pandas as pd

    shifted = t.copy()
    shifted["user_id"] = shifted["user_id"] + 10_000
    shifted["event_id"] = shifted["event_id"] + 1_000_000
    span = t["ts"].max() - t["ts"].min()
    # keep µs precision explicit: the wire source's publish-order contract
    # is epoch-µs (python_source.publish_topic casts the same way)
    shifted["ts"] = (
        shifted["ts"] + span + pd.Timedelta(hours=3)
    ).astype("datetime64[us]")
    return broker, t, shifted


def test_pattern_query_survives_topic_appearance(spark, tmp_path):
    import pandas as pd

    from fs2_kafka_streams_spark.sources.python_source import (
        decode_wire,
        read_wire_stream,
    )
    from fs2_kafka_streams_spark.streaming.cep import (
        pattern_match_batch,
        pattern_matches_stream_tws,
    )
    from fs2_kafka_streams_spark.streaming.conf import (
        STREAM_PERF_CONF,
        pinned_conf,
    )

    broker, first, shifted = _two_topic_broker(tmp_path)
    ckpt = str(tmp_path / "ck")
    # keyed by batch id (foreachBatch is at-least-once; a re-delivered
    # batch overwrites its own slot instead of double-counting)
    batches: dict[int, pd.DataFrame] = {}

    def run_once():
        wire = read_wire_stream(
            spark, SF_SMOKE, partitions=3,
            broker_dir=str(broker), topic_pattern="events-.*",
        )
        src = decode_wire(wire).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        matches = pattern_matches_stream_tws(
            spark, SF_SMOKE, gap=GAP, source=src
        )
        seen_before = set(batches)
        # memory sink cannot recover from a checkpoint — the cross-run
        # composition needs foreachBatch (same conf layering as
        # pattern_match_stream_tws's explicit-checkpoint path)
        conf = dict(STREAM_PERF_CONF)
        conf.update(stateful._tws_prepare(spark))
        with pinned_conf(spark, conf):
            q = (
                matches.writeStream.outputMode("append")
                .foreachBatch(
                    lambda bdf, bid: batches.__setitem__(bid, bdf.toPandas())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        new = [batches[b] for b in sorted(set(batches) - seen_before)]
        return (
            pd.concat(new, ignore_index=True)
            if new
            else pd.DataFrame(columns=["user_id"])
        )

    # run 1: only events-0 exists; offsets commit
    got1 = run_once()
    assert len(got1) > 0

    # the topic appears; the pattern re-resolves on the next run and the
    # SAME checkpoint continues — state and timers restored
    shifted.to_parquet(broker / "events-1.parquet", index=False)
    got2 = run_once()
    assert len(got2) > 0
    assert (got2["user_id"] >= 10_000).all(), (
        "run 2 must emit only the new topic's matches — a re-served "
        "committed offset would re-match events-0 users"
    )

    # fold stays oracle-correct: both runs together == the batch
    # formulation over the UNION of both topics
    union_pdf = pd.concat([first, shifted], ignore_index=True)
    union_df = spark.createDataFrame(union_pdf, schema=stateful.EVENTS_SCHEMA)
    expected = pattern_match_batch(union_df, gap=GAP).toPandas()
    got = pd.concat([got1, got2], ignore_index=True)
    key = ["user_id", "base_event_id", "trigger_event_id"]
    cols = sorted(set(expected.columns) & set(got.columns))
    assert sorted(map(tuple, got[cols].itertuples(index=False))) == sorted(
        map(tuple, expected[cols].itertuples(index=False))
    ), f"composed matches diverge from batch oracle (keys {key})"

    # timers still evict across the composition: during run 2's data batch
    # the restored watermark sits at events-0's max ts, so every events-0
    # base whose gap elapsed before that must be GONE from state
    state = (
        spark.read.format("statestore")
        .option("stateVarName", "base")
        .load(ckpt)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.base_event_id").alias("base_event_id"),
            F.col("value.base_ts_us").alias("base_ts_us"),
        )
    )
    survivors = {
        r.user_id: (r.base_event_id, r.base_ts_us) for r in state.collect()
    }

    views = first[first["event_type"] == "view"].copy()
    # unit-safe µs epoch: the fixture reads back as datetime64[us], where
    # a bare astype(int64)//1000 would yield MILLISECONDS and silently
    # void every expiry comparison below
    views["ts_us"] = views["ts"].astype("datetime64[us]").astype("int64")
    last_view = (
        views.sort_values(["ts_us", "event_id"])
        .groupby("user_id")
        .last()[["event_id", "ts_us"]]
    )
    wm1_us = int(
        first["ts"].astype("datetime64[us]").astype("int64").max()
    )
    expired = [
        uid
        for uid, r in last_view.iterrows()
        if r["ts_us"] + GAP_US < wm1_us
    ]
    assert expired, "fixture produced no expirable bases — test is vacuous"
    for uid in expired:
        assert uid not in survivors, (
            f"events-0 key {uid}: base expired before the restored "
            f"watermark {wm1_us} but survived the topic appearance"
        )
    # survivors from events-0 hold that key's true last view
    for uid, (eid, ts_us) in survivors.items():
        if uid < 10_000:
            assert (
                last_view.loc[uid, "event_id"],
                last_view.loc[uid, "ts_us"],
            ) == (eid, ts_us)


def test_stateful_fold_survives_topic_revocation(spark, tmp_path):
    """Rebalance REVOKE composed with the stateful fold (the counterpart
    of the appearance test above; reference ``client/commands.scala:29-35``
    + EOF-completion ``client/RecordStream.scala:71-108``): a topic is
    DELETED between runs sharing one checkpoint. With
    ``failOnDataLoss=false`` the revoked partitions' streams end cleanly
    at their last served offsets, the survivor continues exactly-once
    (new records only — nothing committed is re-served), and the
    latest-by-key fold over everything consumed still equals the batch
    oracle over (all of the revoked topic's data + all survivor data)."""
    import pandas as pd

    from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key
    from fs2_kafka_streams_spark.sources.python_source import (
        decode_wire,
        read_wire_stream,
    )
    from fs2_kafka_streams_spark.streaming.conf import (
        STREAM_PERF_CONF,
        pinned_conf,
    )

    t = pq.read_table(f"{SF_SMOKE}/events.parquet").to_pandas()
    broker = tmp_path / "broker"
    broker.mkdir()
    keep = t[t["user_id"] % 2 == 0]
    gone = t[t["user_id"] % 2 == 1]
    keep.iloc[: len(keep) // 2].to_parquet(
        broker / "events-keep.parquet", index=False
    )
    gone.to_parquet(broker / "events-gone.parquet", index=False)

    ckpt = str(tmp_path / "ck")
    updates: dict[int, "pd.DataFrame"] = {}

    def run_once(**extra):
        wire = read_wire_stream(
            spark, SF_SMOKE, partitions=3,
            broker_dir=str(broker), topic_pattern="events-.*", **extra,
        )
        src = decode_wire(wire).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        upd = stateful._native_fold(src)
        with pinned_conf(spark, dict(STREAM_PERF_CONF)):
            q = (
                upd.writeStream.outputMode("update")
                .foreachBatch(
                    lambda bdf, bid: updates.__setitem__(bid, bdf.toPandas())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run_once()
    n_run1 = len(updates)
    assert n_run1 > 0

    # the broker revokes one topic; the survivor gains records
    (broker / "events-gone.parquet").unlink()
    keep.to_parquet(broker / "events-keep.parquet", index=False)

    # default posture on the SAME checkpoint: fails loudly (data loss)
    with pytest.raises(Exception, match="gone"):
        run_once()
    # clean continuation: revoked stream EOFs, survivor continues
    run_once(fail_on_data_loss=False)
    assert len(updates) > n_run1, "survivor's new records never delivered"

    all_updates = pd.concat(updates.values(), ignore_index=True)
    got = latest_by_key(
        spark.createDataFrame(
            all_updates.assign(ts=all_updates["ts"].astype("datetime64[us]")),
            schema=stateful._OUTPUT_SCHEMA,
        ),
        ["user_id"], ["ts", "event_id"],
    )
    oracle_pdf = pd.concat([keep, gone], ignore_index=True)
    oracle = latest_by_key(
        spark.createDataFrame(oracle_pdf, schema=stateful.EVENTS_SCHEMA)
        .select(*got.columns),
        ["user_id"], ["ts", "event_id"],
    )
    g = sorted(map(tuple, got.toPandas().astype(str).itertuples(index=False)))
    w = sorted(
        map(tuple, oracle.toPandas().astype(str).itertuples(index=False))
    )
    assert g == w
