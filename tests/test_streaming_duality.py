"""Stream-batch duality: streaming queries over the deterministic replay
equal their batch formulations — the reference's table⇄changelog claim
(``streams/Tables.scala``), upgraded to Spark's stronger guarantees."""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _replay_stream(spark, ts_type="timestamp"):
    from fs2_kafka_streams_spark.streaming.replay import replay_dir
    from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA

    return (
        spark.readStream.schema(EVENTS_SCHEMA.replace("timestamp_ntz", ts_type))
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir(SF_SMOKE, "events"))
    )


def _run_to_memory(df, mode="append"):
    name = f"t_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp()
    try:
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # availableNow ran to completion; nothing resumes from this tree —
        # leaving it would leak one checkpoint per test invocation
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    return df.sparkSession.table(name)


def test_streaming_multiset_roundtrip(spark):
    """The reference's core test idea (``RecordStreamSpec.scala:102``):
    consume everything, compare as a multiset with the source."""
    out = _run_to_memory(_replay_stream(spark).select("event_id", "user_id"))
    from fs2_kafka_streams_spark.catalog import Catalog

    src = Catalog(spark, SF_SMOKE).events.select("event_id", "user_id")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, src.collect())
    )


def test_streaming_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark: unique event_ids pass through, but
    rows behind the watermark are dropped as late (that is the operator's
    contract). The expected survivor set follows the same lag-by-one-batch
    watermark trajectory established for Q36: the filter for bucket k uses
    max(ts over buckets 0..k-2) − delay."""
    stream = _replay_stream(spark).withWatermark("ts", "10 minutes")
    out = _run_to_memory(
        stream.dropDuplicatesWithinWatermark(["event_id"]).select("event_id")
    )
    import duckdb

    expected = duckdb.sql(f"""
      WITH tagged AS (
        SELECT event_id, ts, event_id % 4 AS f
        FROM read_parquet('{SF_SMOKE}/events.parquet')
      ), fmax AS (SELECT f, max(ts) AS mx FROM tagged GROUP BY f),
      wm AS (SELECT f, max(mx) OVER (ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - INTERVAL '10 minutes' AS wm_before FROM fmax)
      SELECT count(*) FROM tagged t JOIN wm ON t.f = wm.f
      WHERE wm.wm_before IS NULL OR t.ts >= wm.wm_before
    """).fetchall()[0][0]
    assert out.count() == expected


def test_streaming_complete_agg_equals_batch(spark):
    """Unwatermarked counts in complete mode equal the batch aggregation —
    no rows are ever dropped without a watermark."""
    stream = _replay_stream(spark)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = {r["event_type"]: r["n"] for r in _run_to_memory(agg, "complete").collect()}

    from fs2_kafka_streams_spark.catalog import Catalog

    batch = {
        r["event_type"]: r["n"]
        for r in Catalog(spark, SF_SMOKE)
        .events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == batch


def test_watermarked_join_equals_unbounded(spark):
    """The watermarked q48 (time-ordered replay, state evicted past the
    watermark) must emit exactly the multiset the unbounded-state variant
    emits — i.e. watermarking loses no on-time matches."""
    from fs2_kafka_streams_spark.queries.streaming_ext import (
        q48_stream_stream_join,
        stream_stream_join_unbounded,
    )

    wm = q48_stream_stream_join(spark, SF_SMOKE)
    ub = stream_stream_join_unbounded(spark, SF_SMOKE)
    key = ["id_a", "id_b", "user_id", "type_a", "type_b"]
    wm_rows = sorted(tuple(r) for r in wm.select(*key).collect())
    ub_rows = sorted(tuple(r) for r in ub.select(*key).collect())
    assert wm_rows == ub_rows and len(wm_rows) > 0


def test_statestore_interactive_read(spark, tmp_path):
    """A10 interactive reads: the live state of the latest-by-key query,
    read via the State Data Source from its checkpoint, equals the batch
    materialization (so get(k)-now is a filter over it)."""
    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key
    from fs2_kafka_streams_spark.streaming.stateful import (
        latest_by_key_streaming,
        read_table_state,
    )

    ckpt = str(tmp_path / "ckpt_state_read")
    latest_by_key_streaming(spark, SF_SMOKE, checkpoint=ckpt)
    state = read_table_state(spark, ckpt)
    batch = latest_by_key(
        Catalog(spark, SF_SMOKE).events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "event_type", "value", "props"],
    )
    s_rows = sorted(tuple(r) for r in state.collect())
    b_rows = sorted(tuple(r) for r in batch.collect())
    assert s_rows == b_rows and len(s_rows) > 0


def test_q75_cache_key_skips_other_engine_checkpoint(spark, tmp_path):
    """q75 restarts the checkpoint cached for its source parquet. The cache
    key carries the fold engine, so a checkpoint cached under the untagged
    key — written by an earlier engine, with a state layout the
    aggregation's state-schema check rejects — is left alone, and the
    entry still matches its oracle."""
    import hashlib
    import os
    import shutil

    from fs2_kafka_streams_spark.queries import load_all
    from fs2_kafka_streams_spark.queries.extensions import STATE_CKPT_ENGINE
    from fs2_kafka_streams_spark.streaming.conf import STREAM_PERF_CONF
    from fs2_kafka_streams_spark.streaming.replay import (
        CACHE_ROOT,
        replay_dir,
    )
    from fs2_kafka_streams_spark.streaming.run import _drain
    from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA
    from fs2_kafka_streams_spark.testing import driver_gate

    sf = tmp_path / f"sf_q75key_{uuid.uuid4().hex[:8]}"
    sf.mkdir()
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(SF_SMOKE, f), sf / f)
    src = os.path.abspath(sf / "events.parquet")
    st = os.stat(src)
    ident = f"{src}:{st.st_size}:{int(st.st_mtime)}"
    replay = replay_dir(str(sf), "events")
    root = os.path.join(CACHE_ROOT, "state_ckpt")
    stale = os.path.join(root, hashlib.md5(ident.encode()).hexdigest())
    fresh = os.path.join(root, hashlib.md5(
        f"{STATE_CKPT_ENGINE}:{ident}:{os.path.abspath(replay)}".encode()
    ).hexdigest())
    try:
        # a real checkpoint of another state layout (a per-key count)
        # over the same changelog, under the untagged key
        counts = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(replay)
            .groupBy("user_id")
            .count()
        )
        _drain(
            spark,
            counts.writeStream.outputMode("update").format("noop"),
            "stale_engine",
            STREAM_PERF_CONF,
            stale,
        )

        def snapshot():
            return sorted(
                (os.path.relpath(os.path.join(d, n), stale),
                 os.path.getmtime(os.path.join(d, n)))
                for d, _, names in os.walk(stale)
                for n in names
            )

        before = snapshot()
        assert before
        gate = driver_gate(spark, str(sf), load_all()["q75_state_reader"])
        assert gate, gate.why
        assert snapshot() == before
        assert os.path.isdir(os.path.join(fresh, "offsets"))
    finally:
        for d in (stale, fresh, replay):
            shutil.rmtree(d, ignore_errors=True)


def test_upsert_log_compaction(spark, tmp_path):
    """Kafka-style compaction of the upsert sink log: the materialized view
    is identical before and after, the log shrinks to one row per key, and
    appends AFTER compaction (higher epochs) still win the read-back."""
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.streaming.stateful import (
        _log_head,
        _read_upsert_log,
        compact_upsert_log,
        latest_by_key_streaming,
    )

    sink = str(tmp_path / "sink_log")
    view_before = sorted(
        tuple(r) for r in latest_by_key_streaming(
            spark, SF_SMOKE, sink_dir=sink
        ).collect()
    )
    n_keys = len(view_before)
    assert n_keys > 0

    rows_before, rows_after = compact_upsert_log(spark, sink)
    assert rows_after == n_keys <= rows_before
    view_after = sorted(
        tuple(r) for r in _log_head(_read_upsert_log(spark, sink)).collect()
    )
    assert view_after == view_before

    # post-compaction append with a higher epoch must win its key
    log = _read_upsert_log(spark, sink)
    max_epoch = log.agg(F.max("_epoch")).collect()[0][0]
    some_user = view_before[0][0]
    update = spark.createDataFrame(
        [(some_user, 10**12, None, "compact_test", 1.0, "{}")],
        "user_id long, event_id long, ts timestamp_ntz, "
        "event_type string, value double, props string",
    ).select("*", F.lit(max_epoch + 1).alias("_epoch"))
    update.write.mode("append").parquet(sink)
    head = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in _log_head(_read_upsert_log(spark, sink)).collect()
    }
    assert head[some_user] == (10**12, "compact_test")
    assert len(head) == n_keys


def test_append_refuses_a_bucketed_log_until_compacted(spark, tmp_path):
    """A log written in the retired ``_bucket=<n>`` directory layout would
    read back only part of its rows once flat files land beside it, so an
    append into it raises — naming :func:`compact_upsert_log` — and
    touches no file. Compaction rewrites the old log flat; the same
    append then runs, and the view is the batch latest-by-key with the
    old log's keys folded in under it."""
    import os

    import pandas as pd

    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key
    from fs2_kafka_streams_spark.streaming.stateful import (
        compact_upsert_log,
        latest_by_key_streaming,
    )

    sink = str(tmp_path / "sink")
    old = pd.DataFrame({
        "user_id": [-1, -1, -2],
        "event_id": [1, 2, 3],
        "ts": pd.to_datetime([1, 2, 3], unit="s").astype("datetime64[us]"),
        "event_type": ["view", "buy", "view"],
        "value": [1.0, 2.0, 3.0],
        "props": ["{}", "{}", "{}"],
        "_epoch": [0, 1, 0],
    })
    os.makedirs(f"{sink}/_bucket=0")
    old.to_parquet(f"{sink}/_bucket=0/part-0.parquet", index=False)

    def listing():
        return sorted(
            (os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, fs in os.walk(sink) for f in fs
        )

    before = listing()
    with pytest.raises(ValueError, match="compact_upsert_log"):
        latest_by_key_streaming(spark, SF_SMOKE, sink_dir=sink)
    assert listing() == before

    assert compact_upsert_log(spark, sink) == (3, 2)
    view = latest_by_key_streaming(spark, SF_SMOKE, sink_dir=sink)
    batch = latest_by_key(
        Catalog(spark, SF_SMOKE).events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "event_type", "value", "props"],
    ).select(*view.columns)
    got = [(r.user_id, r.event_id, r.event_type) for r in view.collect()]
    want = {(r.user_id, r.event_id, r.event_type) for r in batch.collect()}
    old_heads = {(-1, 2, "buy"), (-2, 3, "view")}
    assert len(got) == len(set(got)) and set(got) == want | old_heads


def test_session_window_append_mode(spark):
    """Watermarked append-mode sessions emit exactly the batch sessions
    closed by the final watermark (max ts - delay); open sessions are
    withheld — bounded state, no losses."""
    from fs2_kafka_streams_spark.queries.streaming_ext import (
        session_window_append,
    )
    from fs2_kafka_streams_spark.queries.windows import (
        _sessions,
        _timed_events,
    )
    from fs2_kafka_streams_spark.catalog import Catalog

    batch = _sessions(_timed_events(spark, SF_SMOKE))
    max_ts = (
        Catalog(spark, SF_SMOKE).events.agg(F.max("ts")).collect()[0][0]
    )
    import datetime

    final_wm = max_ts - datetime.timedelta(minutes=10)
    expected = sorted(
        tuple(r)
        for r in batch.collect()
        if r["session_end"] <= final_wm
    )
    got = sorted(tuple(r) for r in session_window_append(spark, SF_SMOKE).collect())
    assert got == expected and len(got) > 0


def test_streaming_ann_equals_batch(spark):
    """Streaming similarity search (micro-batched query stream scored
    against the static corpus) must produce EXACTLY the batch q44 answer
    for the same query set — the stream-batch duality of the ANN tier."""
    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.similarity import cosine_topk
    from fs2_kafka_streams_spark.queries.streaming_ext import (
        streaming_ann_topk,
    )

    emb = Catalog(spark, SF_SMOKE).embeddings
    batch = sorted(
        tuple(r) for r in cosine_topk(emb, emb, k=3).collect()
    )
    stream = sorted(
        tuple(r) for r in streaming_ann_topk(spark, SF_SMOKE, k=3).collect()
    )
    assert stream == batch and len(stream) > 0


def test_cep_stream_equals_batch(spark):
    """The stateful CEP stream must equal the batch window formulation
    row-for-row — per-key order + state carry across micro-batches."""
    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.streaming.cep import (
        pattern_match_batch,
        pattern_match_stream,
    )
    from tests.conftest import SF_SMOKE

    streamed = pattern_match_stream(spark, SF_SMOKE)
    batch = pattern_match_batch(Catalog(spark, SF_SMOKE).events)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_funnel_stream_equals_batch(spark):
    """The 3-stage funnel stream must equal the chained-window batch
    formulation — two levels of qualified state across micro-batches."""
    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.streaming.cep import (
        funnel_match_batch,
        funnel_match_stream,
    )
    from tests.conftest import SF_SMOKE

    streamed = funnel_match_stream(spark, SF_SMOKE)
    batch = funnel_match_batch(Catalog(spark, SF_SMOKE).events)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_q38b_tws_matches_batch(spark):
    """A22 end-to-end: ``transformWithStateInPandas`` (typed ValueState via
    the protobuf state-server protocol — reference ``streams/Key.scala:3-17``,
    ``streams/Table.scala:115-137``) must equal batch latest-by-key. In this
    container the protocol runs through the vendored pure-Python protobuf
    shim (vendor/protobuf_shim), so a pass here proves the JVM state server
    accepted the shim's wire bytes for the full get/update/exists cycle."""
    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key
    from fs2_kafka_streams_spark.streaming import stateful

    if not stateful.HAS_TWS:
        pytest.skip("transformWithStateInPandas gate closed (no protobuf)")

    streamed = stateful.latest_by_key_tws(spark, SF_SMOKE)
    batch = latest_by_key(
        Catalog(spark, SF_SMOKE).events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "event_type", "value", "props"],
    ).select("user_id", "event_id", "ts", "event_type", "value", "props")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.select(*streamed.columns).collect())
    )


def _deletes_engine(name):
    """Resolve a tombstone-aware streaming engine by name, skipping the
    typed-state one when the TWS gate is closed."""
    from fs2_kafka_streams_spark.streaming import stateful

    if name == "native_aggregate":
        return stateful.latest_by_key_streaming_with_deletes
    if not stateful.HAS_TWS:
        pytest.skip("transformWithStateInPandas gate closed (no protobuf)")
    return stateful.latest_by_key_tws_with_deletes


@pytest.mark.parametrize(
    "engine", ["native_aggregate", "transform_with_state"]
)
def test_streaming_deletes_match_batch_merge(spark, tmp_path, engine):
    """Tombstoned changelog: streaming latest-by-key keeping a tombstone
    marker in state ≡ the batch MERGE's tombstone branch
    (``operators/incremental.py``) — on BOTH engines (the native
    ``max_by`` aggregation and ``transformWithStateInPandas``).
    Covers keys whose head is a tombstone (dropped), keys re-inserted after
    a tombstone, and delete/re-insert sequences crossing micro-batch
    boundaries (2-file triggers over a 5-file replay)."""
    import pandas as pd

    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.incremental import apply_changes

    latest_with_deletes = _deletes_engine(engine)

    ev = Catalog(spark, SF_SMOKE).events.toPandas()
    ev = ev.sort_values(["ts", "event_id"]).reset_index(drop=True)
    # µs precision so the parquet files read back as TIMESTAMP_NTZ(MICROS)
    # under the streaming schema (pandas default ns would collide with the
    # session's nanosAsLong legacy read)
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["deleted"] = (ev["event_id"] % 7 == 0)
    replay = tmp_path / "changelog"
    n = len(ev)
    # the shared writer spaces mtimes: back-to-back to_parquet can tie in
    # the same ms and the file source's mtime ordering would then deal
    # files into nondeterministic triggers
    from tests.conftest import write_replay_files

    write_replay_files(
        replay, [ev.iloc[i * n // 5 : (i + 1) * n // 5] for i in range(5)]
    )

    # sanity: the fixture must exercise both tombstone-at-head and
    # re-insert-after-tombstone, else the test proves nothing
    heads = ev.groupby("user_id").tail(1)
    assert heads["deleted"].any(), "no key ends on a tombstone"
    tomb_keys = set(ev[ev["deleted"]]["user_id"])
    live_heads = set(heads[~heads["deleted"]]["user_id"])
    assert tomb_keys & live_heads, "no key re-inserted after a tombstone"

    streamed = latest_with_deletes(
        spark, str(replay), tombstone_col="deleted"
    ).select("user_id", "event_id", "event_type", "value", "props")

    changes = spark.createDataFrame(
        ev.assign(seq=range(len(ev)))[
            ["user_id", "event_id", "ts", "event_type", "value", "props",
             "deleted", "seq"]
        ]
    )
    batch = apply_changes(
        None,
        changes,
        key_cols=["user_id"],
        order_col="seq",
        value_cols=["event_id", "event_type", "value", "props"],
        tombstone_col="deleted",
    ).select("user_id", "event_id", "event_type", "value", "props")

    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # every tombstone-headed key is absent from the view
    dead_keys = set(heads[heads["deleted"]]["user_id"])
    assert not dead_keys & {r.user_id for r in streamed.collect()}


@pytest.mark.parametrize(
    "engine", ["native_aggregate", "transform_with_state"]
)
def test_late_old_record_cannot_resurrect_deleted_key(spark, tmp_path, engine):
    """Out-of-order replay: a record OLDER (by (ts, event_id)) than a key's
    tombstone arriving in a LATER micro-batch must NOT resurrect the key —
    the tombstone marker kept in state wins the comparison, exactly as the
    batch MERGE keeps the (ts, event_id)-max tombstone. A record NEWER than
    the tombstone still re-inserts (compacted-topic semantics). Both
    engines."""
    import pandas as pd

    from fs2_kafka_streams_spark.operators.incremental import apply_changes

    latest_with_deletes = _deletes_engine(engine)

    def mkrow(eid, ts_min, uid, deleted):
        return {
            "event_id": eid,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=ts_min),
            "user_id": uid,
            "event_type": "x",
            "value": float(eid),
            "props": "{}",
            "deleted": deleted,
        }

    # files 0+1 form trigger 1 (maxFilesPerTrigger=2), files 2+3 trigger 2
    files = [
        # trigger 1: key 1 insert→tombstone; key 2 tombstone; key 3 insert
        [mkrow(1, 10, 1, False), mkrow(5, 10, 3, False)],
        [mkrow(2, 20, 1, True), mkrow(6, 20, 2, True)],
        # trigger 2: key 1 gets a LATE OLDER record (ts 15 < tombstone's 20)
        # → stays dead; key 2 gets a NEWER record (ts 30) → resurrects
        [mkrow(3, 15, 1, False)],
        [mkrow(7, 30, 2, False)],
    ]
    from tests.conftest import write_replay_files

    replay = tmp_path / "changelog_ooo"
    write_replay_files(replay, [pd.DataFrame(rows) for rows in files])

    streamed = latest_with_deletes(
        spark, str(replay), tombstone_col="deleted"
    ).select("user_id", "event_id")
    got = {r["user_id"]: r["event_id"] for r in streamed.collect()}
    assert got == {2: 7, 3: 5}, got  # key 1 stays dead, key 2 resurrected

    # batch MERGE over the same changelog, ordered by (ts, event_id) — the
    # streaming fold must match it even though delivery was out of order
    all_rows = pd.DataFrame([r for f in files for r in f])
    all_rows["ts"] = all_rows["ts"].astype("datetime64[us]")
    changes = spark.createDataFrame(all_rows)
    batch = apply_changes(
        None,
        changes.withColumn(
            "ord", F.col("ts").cast("long") * 10**9 + F.col("event_id")
        ),
        key_cols=["user_id"],
        order_col="ord",
        value_cols=["event_id"],
        tombstone_col="deleted",
    )
    assert {r["user_id"]: r["event_id"] for r in batch.collect()} == got


def test_compaction_preserves_tombstones(spark, tmp_path):
    """Compacting a deletes-sink must keep the tombstone flag — a compaction
    that strips it would RESURRECT deleted keys on the next read. With
    retain_tombstones=False (post-retention GC) the dead-headed keys drop
    entirely; either way the materialized view is unchanged."""
    import pandas as pd

    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.streaming.stateful import (
        _log_head,
        _read_upsert_log,
        compact_upsert_log,
        latest_by_key_streaming_with_deletes,
    )

    ev = Catalog(spark, SF_SMOKE).events.toPandas()
    ev = ev.sort_values(["ts", "event_id"]).reset_index(drop=True)
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["deleted"] = (ev["event_id"] % 5 == 0)
    replay = tmp_path / "changelog"
    n = len(ev)
    from tests.conftest import write_replay_files

    write_replay_files(
        replay, [ev.iloc[i * n // 4 : (i + 1) * n // 4] for i in range(4)]
    )

    sink = str(tmp_path / "sink")
    view_before = sorted(
        map(
            tuple,
            latest_by_key_streaming_with_deletes(
                spark, str(replay), tombstone_col="deleted", sink_dir=sink
            ).collect(),
        )
    )
    # retention compaction: one row per key, tombstone heads retained
    before, after = compact_upsert_log(spark, sink, dead_col="_dead")
    assert after < before
    log = _read_upsert_log(spark, sink, "_dead")
    assert log.count() == log.select("user_id").distinct().count()
    view_after = sorted(
        map(tuple, _log_head(log, dead_col="_dead").collect())
    )
    assert view_after == view_before

    # post-retention GC: dead-headed keys disappear from the log itself
    _, after_gc = compact_upsert_log(
        spark, sink, dead_col="_dead", retain_tombstones=False
    )
    log_gc = _read_upsert_log(spark, sink, "_dead")
    assert log_gc.filter("_dead").count() == 0
    view_gc = sorted(map(tuple, _log_head(log_gc, dead_col="_dead").collect()))
    assert view_gc == view_before


def test_compaction_concurrent_appends(spark, tmp_path):
    """Compaction's directory-rename swap racing live trigger appends: the
    shared/exclusive sink lock must prevent an append landing between the
    two renames (where it would be deleted with the ``.old`` dir or break
    the swap). Drive many small locked appends from one thread while the
    main thread compacts repeatedly; every appended row must survive and
    the head must reflect the highest epoch per key."""
    import threading

    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.streaming.stateful import (
        _log_head,
        _read_upsert_log,
        _sink_lock,
        compact_upsert_log,
        latest_by_key_streaming,
    )

    sink = str(tmp_path / "sink_race")
    latest_by_key_streaming(spark, SF_SMOKE, sink_dir=sink)
    base_epoch = (
        _read_upsert_log(spark, sink).agg(F.max("_epoch")).collect()[0][0]
    )

    n_appends = 12
    errors: list[Exception] = []

    def appender():
        try:
            for i in range(n_appends):
                row = spark.createDataFrame(
                    [(10_000 + i, 10**12 + i, None, "race_test",
                      float(i), "{}")],
                    "user_id long, event_id long, ts timestamp_ntz, "
                    "event_type string, value double, props string",
                ).select("*", F.lit(base_epoch + 1 + i).alias("_epoch"))
                with _sink_lock(sink, exclusive=False):
                    row.write.mode("append").parquet(sink)
        except Exception as e:  # surfaced in the main thread
            errors.append(e)

    t = threading.Thread(target=appender)
    t.start()
    compactions = 0
    while t.is_alive():
        compact_upsert_log(spark, sink)
        compactions += 1
    t.join()
    compact_upsert_log(spark, sink)  # final pass over everything
    compactions += 1

    assert not errors, errors
    assert compactions >= 2, "race window never opened"
    head = {
        r["user_id"]: r["event_id"]
        for r in _log_head(_read_upsert_log(spark, sink)).collect()
    }
    # every appended key survived with its row intact
    for i in range(n_appends):
        assert head.get(10_000 + i) == 10**12 + i, f"append {i} lost"


@pytest.mark.parametrize(
    "engine", ["native_aggregate", "transform_with_state"]
)
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_changelog_duality(spark, tmp_path, engine, seed):
    """Seeded fuzz of the tombstone-aware streaming fold: a RANDOM
    changelog — duplicate timestamps (event_id tie-breaks), ~25%
    tombstones, rows shuffled into files with no ordering at all — must
    fold to exactly the batch MERGE's answer on both engines. This is
    the property the handcrafted cases sample: the (ts, event_id)-max
    comparison with a kept tombstone marker is delivery-order-invariant,
    so ANY permutation of the log across micro-batches converges to the
    same view (the reference's table⇄changelog claim under its
    GeneratorDrivenPropertyChecks discipline, ``RecordStreamSpec.scala``)."""
    import numpy as np
    import pandas as pd

    from tests.conftest import write_replay_files
    from fs2_kafka_streams_spark.operators.incremental import apply_changes

    latest_with_deletes = _deletes_engine(engine)
    rng = np.random.default_rng(seed)
    n, n_keys, n_files = 150, 12, 5

    ev = pd.DataFrame(
        {
            # uncorrelated with row position, unique: the tie-break column
            "event_id": rng.permutation(n).astype("int64"),
            # minute resolution over a narrow range => many exact ts ties
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 40, n), unit="m"),
            "user_id": rng.integers(0, n_keys, n).astype("int64"),
            "event_type": "x",
            "deleted": rng.random(n) < 0.25,
        }
    )
    ev["value"] = ev["event_id"].astype("float64")
    ev["props"] = "{}"
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev = ev[
        ["event_id", "ts", "user_id", "event_type", "value", "props",
         "deleted"]
    ]

    # every seed must exercise both interesting structures, or the fuzz
    # quietly stops testing anything when the generator changes
    by_max = ev.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    assert by_max["deleted"].any(), "no key ends on a tombstone"
    assert (~by_max["deleted"]).any() and set(
        ev[ev["deleted"]]["user_id"]
    ) & set(by_max[~by_max["deleted"]]["user_id"]), "no resurrection"

    # shuffle rows, then deal into files: delivery order is arbitrary
    # (write_replay_files spaces mtimes so triggers are deterministic)
    shuffled = ev.iloc[rng.permutation(n)].reset_index(drop=True)
    replay = tmp_path / f"fuzz_{seed}"
    write_replay_files(
        replay,
        [
            shuffled.iloc[i * n // n_files : (i + 1) * n // n_files]
            for i in range(n_files)
        ],
    )

    streamed = latest_with_deletes(
        spark, str(replay), tombstone_col="deleted"
    ).select("user_id", "event_id", "event_type", "value", "props")

    batch = apply_changes(
        None,
        spark.createDataFrame(ev).withColumn(
            "ord", F.col("ts").cast("long") * 10**9 + F.col("event_id")
        ),
        key_cols=["user_id"],
        order_col="ord",
        value_cols=["event_id", "event_type", "value", "props"],
        tombstone_col="deleted",
    ).select("user_id", "event_id", "event_type", "value", "props")

    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
