"""Broker-less Kafka-wire Python DataSource (A1/A2/A16/A17/A18 without a
broker): wire-schema contract, per-partition offset semantics, decode
round-trip equality with the parquet path, multi-batch streaming, and
exactly-once checkpoint recovery across a stop/restart.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.catalog import Catalog
from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key
from fs2_kafka_streams_spark.sources.python_source import (
    decode_wire,
    read_wire,
    read_wire_stream,
)

SF = "/root/testdata/sf0.001"
N_PARTS = 4


@pytest.fixture(scope="module")
def wire(spark):
    return read_wire(spark, SF, partitions=N_PARTS)


def test_wire_schema_contract(wire):
    """The wire columns mirror the Kafka record contract the sink encoder
    writes (key/value bytes, topic, partition, offset, timestamp)."""
    assert [f.name for f in wire.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp_us",
    ]
    types = {f.name: f.dataType.simpleString() for f in wire.schema.fields}
    assert types["key"] == "binary" and types["value"] == "binary"
    assert types["offset"] == "bigint"


def test_offsets_dense_and_partitioned_by_key(spark, wire):
    """Kafka's guarantee, reproduced: offsets are dense 0..n_p-1 within
    each partition, and partition = key % N (same key → same partition)."""
    n_events = Catalog(spark, SF).events.count()
    per = (
        wire.groupBy("partition")
        .agg(
            F.count("*").alias("n"),
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count_distinct("offset").alias("nd"),
        )
        .collect()
    )
    assert sum(r.n for r in per) == n_events
    for r in per:
        assert r.lo == 0 and r.hi == r.n - 1 and r.nd == r.n
    mism = (
        decode_wire(wire)
        .filter(F.col("user_id") % N_PARTS != F.col("partition"))
        .count()
    )
    assert mism == 0


def test_offsets_respect_event_time_order(spark, wire):
    """Within a partition, offset order == (ts, event_id) order — the
    per-partition total order the reference's consumer model guarantees
    (client/RecordStream.scala:14-16)."""
    dec = decode_wire(wire)
    # EVERY adjacent pair, not just the endpoints: checking only the
    # min/max-offset records would pass a source that shuffles all the
    # interior rows
    rows = dec.select("partition", "offset", "ts", "event_id").collect()
    by_part: dict[int, list] = {}
    for r in rows:
        by_part.setdefault(r.partition, []).append(r)
    assert by_part
    for part_rows in by_part.values():
        part_rows.sort(key=lambda r: r.offset)
        keys = [(r.ts, r.event_id) for r in part_rows]
        assert keys == sorted(keys), "offset order violates (ts, event_id)"


def test_decode_roundtrip_equals_parquet(spark, wire):
    """decode(wire) must equal the parquet table row-for-row — the A3
    deserialize path applied to our own source loses nothing (exact NTZ
    timestamps included)."""
    dec = decode_wire(wire).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = Catalog(spark, SF).events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    assert dec.exceptAll(src).count() == 0
    assert src.exceptAll(dec).count() == 0


def test_latest_by_key_through_wire_equals_direct(spark, wire):
    """The flagship fold (A7) over the wire path ≡ over parquet."""
    via_wire = latest_by_key(
        decode_wire(wire),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "event_type", "value"],
    )
    direct = latest_by_key(
        Catalog(spark, SF).events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "event_type", "value"],
    )
    assert via_wire.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_wire).count() == 0


def test_stream_multi_batch_and_exactly_once_recovery(spark, tmp_path):
    """The live-topic simulation must (a) deliver in >1 micro-batch,
    (b) resume from the committed offset after a stop/restart, and
    (c) never re-serve a COMMITTED batch's offsets under a new batch id.

    The sink is idempotent-by-batchId (overwrite ``bid=<n>``) — the
    standard foreachBatch exactly-once recipe: a batch interrupted before
    its checkpoint commit legitimately re-runs (at-least-once delivery to
    the sink), the overwrite absorbs it, and the SOURCE-level guarantee
    under test is that each (partition, offset) lands in exactly ONE
    distinct batch id."""
    out = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    seen_batches: list[int] = []

    cursor = tmp_path / "publish_cursor.json"

    def run_until(n_progress: int, batch_rows: int = 120) -> None:
        stream = read_wire_stream(
            spark,
            SF,
            partitions=N_PARTS,
            batch_rows=batch_rows,
            cursor_file=str(cursor),
        )

        def sink(bdf, bid):
            seen_batches.append(bid)
            bdf.select("partition", "offset").write.mode(
                "overwrite"
            ).parquet(f"{out}/bid={bid}")

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        deadline = time.time() + 120
        try:
            idle = 0
            while time.time() < deadline:
                if len(seen_batches) >= n_progress:
                    break
                # drained detector: once batches have flowed and progress
                # reports several consecutive empty triggers, stop — an
                # unreachable n_progress (the phase-2 "drain everything"
                # call) would otherwise sleep out the full deadline
                lp = q.lastProgress
                if seen_batches and lp and lp["numInputRows"] == 0:
                    idle += 1
                    if idle >= 4:
                        break
                else:
                    idle = 0
                time.sleep(0.3)
        finally:
            q.stop()
            q.awaitTermination()

    # phase 1: consume a couple of micro-batches, then stop mid-stream
    run_until(2)
    assert len(seen_batches) >= 2
    # phase 2: restart on the same checkpoint and drain the rest
    n_events = Catalog(spark, SF).events.count()
    for _ in range(10):
        run_until(10_000)
        got = spark.read.parquet(str(out))
        if got.select("partition", "offset").distinct().count() >= n_events:
            break

    got = spark.read.parquet(str(out))
    assert (
        got.select("partition", "offset").distinct().count() == n_events
    ), "every offset delivered"
    multi = (
        got.groupBy("partition", "offset")
        .agg(F.count_distinct("bid").alias("n_bids"))
        .filter(F.col("n_bids") > 1)
        .count()
    )
    assert multi == 0, "a committed batch was re-served under a new bid"
    assert len(set(seen_batches)) >= 3, "genuinely multi-batch"


def test_stream_full_log_single_catchup_equals_batch(spark, tmp_path):
    """Default (no batch_rows): one catch-up batch serves the whole log —
    the restart-always-safe mode; contents equal the batch read."""
    rows = []
    stream = read_wire_stream(spark, SF, partitions=N_PARTS)
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, bid: rows.append(bdf.count())
        )
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and not rows:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    assert rows and rows[0] == Catalog(spark, SF).events.count()


def test_starting_offsets_seek_without_checkpoint(spark, tmp_path):
    """A17 parity — the reference's actual restart loop
    (``client/RecordStream.scala:194-219``, ``streams/Table.scala:64-95``):
    materialize part of the log, stop, recover the last committed offsets
    FROM THE SINK (not the checkpoint), then start a FRESH query — no old
    checkpoint — seeking there via ``startingOffsets`` (the Kafka source's
    own option shape). The second run must re-serve nothing, the union must
    cover every offset exactly once, and the fold over the union must equal
    batch latest-by-key (the q17 oracle shape)."""
    cursor = tmp_path / "cursor.json"
    sink1 = tmp_path / "sink1"
    seen: list[int] = []

    def sink_to(out_dir):
        def sink(bdf, bid):
            seen.append(bid)
            bdf.write.mode("overwrite").parquet(f"{out_dir}/bid={bid}")
        return sink

    # phase 1: live-topic pacing, stop after a couple of committed batches
    s1 = read_wire_stream(
        spark, SF, partitions=N_PARTS, batch_rows=120, cursor_file=str(cursor)
    )
    q = (
        s1.writeStream.foreachBatch(sink_to(sink1))
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline and len(seen) < 2:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()

    got1 = spark.read.parquet(str(sink1))
    n1 = got1.select("partition", "offset").distinct().count()
    n_events = Catalog(spark, SF).events.count()
    assert 0 < n1 < n_events, "phase 1 must stop mid-log"

    # recover next-offsets from the sink via the library's own recovery
    # helper (the reference's recoverOffsets fn). At-least-once sinks may
    # hold rows from an uncommitted trailing batch; seeking from the
    # sink's own high-water mark is exactly the point.
    from fs2_kafka_streams_spark.sources.python_source import recover_offsets

    starting = recover_offsets(got1)
    recovered = {int(p): o for p, o in starting["events"].items()}

    # phase 2: FRESH checkpoint; full catch-up (batch_rows=0 serves the
    # remainder in one batch); seek via startingOffsets
    sink2 = tmp_path / "sink2"
    s2 = read_wire_stream(
        spark, SF, partitions=N_PARTS, starting_offsets=starting
    )
    q2 = (
        s2.writeStream.foreachBatch(sink_to(sink2))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    # exit via the drained/terminated breaks below (no sentinel file
    # protocol exists — an earlier version polled one nothing wrote)
    deadline = time.time() + 120
    while time.time() < deadline:
        if q2.awaitTermination(1):
            break
        prog = q2.lastProgress
        if prog and prog["numInputRows"] == 0 and len(list(sink2.glob("bid=*"))):
            break
    q2.stop()
    q2.awaitTermination()

    got2 = spark.read.parquet(str(sink2))
    # nothing re-served: every phase-2 offset is past the recovered mark
    below = got2.filter(
        F.col("offset")
        < F.udf(lambda p: recovered.get(p, 0), "long")(F.col("partition"))
    ).count()
    assert below == 0, "startingOffsets re-served committed offsets"

    # union covers the whole log exactly once per (partition, offset)
    union = got1.select("partition", "offset", "value").unionByName(
        got2.select("partition", "offset", "value")
    )
    assert union.select("partition", "offset").distinct().count() == n_events
    dup = (
        union.groupBy("partition", "offset")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0, "an offset was served twice across the two queries"

    # end-to-end: fold over the union equals batch latest-by-key (q17)
    folded = latest_by_key(
        decode_wire(union.withColumn("topic", F.lit("events"))),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "event_type", "value", "props"],
    ).select("user_id", "event_id", "ts", "event_type", "value", "props")
    direct = latest_by_key(
        Catalog(spark, SF).events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "event_type", "value", "props"],
    ).select("user_id", "event_id", "ts", "event_type", "value", "props")
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_starting_offsets_with_pacing_never_regress(tmp_path):
    """Seek + live-topic pacing (`batch_rows`): the publication cursor is
    floored at the seek point, so paced ends can never fall BELOW the
    recovered offsets (which would make Spark commit a regressed end and
    re-serve the records the seek exists to skip). Driven at the reader
    level — options are plain dicts to `_StreamReader`."""
    from fs2_kafka_streams_spark.sources.python_source import _StreamReader

    src = f"{SF}/events.parquet"
    opts = {
        "path": src,
        "topic": "events",
        "partitions": str(N_PARTS),
        "batch_rows": "50",
        "cursor_file": str(tmp_path / "cursor.json"),
        "startingOffsets": '{"events": {"0": 120, "1": 120, "2": 120, "3": 120}}',
    }
    r = _StreamReader(opts)
    init = r.initialOffset()
    assert all(v == 120 for v in init["events"].values())
    ends = r._end_offsets("events", src)
    first = r.latestOffset()
    for p, hi in first["events"].items():
        assert hi >= 120, f"paced end {hi} regressed below the seek point"
        # exact pacing: seek point + batch_rows, clamped to the log end —
        # the old `<= max(170, ends[p])` could never fail (latestOffset
        # clamps to ends[p] by construction), so a regression that ignored
        # batch_rows entirely passed it
        assert hi == min(120 + 50, ends[int(p)]), (
            f"partition {p}: paced end {hi} != min(170, {ends[int(p)]})"
        )
    # ranges planned from (init, first) are non-empty and start at the seek
    parts = r.partitions(init, first)
    assert parts and all(pt.start == 120 for pt in parts)

    # named positions are case-insensitive, like the Kafka source
    for name in ("LATEST", "Earliest", " latest "):
        rr = _StreamReader({**opts, "startingOffsets": name})
        io = rr.initialOffset()
        expect = ends if name.strip().lower() == "latest" else None
        for p, v in io["events"].items():
            assert v == (ends[int(p)] if expect else 0)

    # garbage still raises the documented ValueError, not a JSON stack
    with pytest.raises(ValueError, match="startingOffsets must be"):
        _StreamReader({**opts, "startingOffsets": "bogus"})


def test_publish_subscribe_decode_roundtrip(spark, tmp_path):
    """The full produce/consume loop on the simulated broker: publish an
    events table as a topic (``publish_topic``, the Producer half), read it
    back through the wire source (list subscription), decode, and compare
    as a multiset with the original — the reference's produce→consume
    round-trip test (``RecordStreamSpec.scala:93-141``), broker-free.
    A re-produced (overwritten) topic must serve the NEW contents — the
    file-stamped caches may not serve stale bytes."""
    from fs2_kafka_streams_spark.sources.python_source import publish_topic

    broker = str(tmp_path / "broker")
    events = Catalog(spark, SF).events
    publish_topic(events.limit(200), broker, "events-rt")

    wire = read_wire(
        spark, SF, partitions=N_PARTS, broker_dir=broker,
        topics=["events-rt"],
    )
    decoded = decode_wire(wire).select(
        "event_id", "user_id", "event_type", "ts"
    )
    src = events.limit(200).select("event_id", "user_id", "event_type", "ts")
    assert sorted(map(tuple, decoded.collect())) == sorted(
        map(tuple, src.collect())
    )

    # re-produce with different contents: the stamped caches must replan
    publish_topic(events.limit(50), broker, "events-rt")
    wire2 = read_wire(
        spark, SF, partitions=N_PARTS, broker_dir=broker,
        topics=["events-rt"],
    )
    assert wire2.count() == 50


def test_global_latest_pacing_serves_mid_query_backlog_paced(tmp_path):
    """Global ``startingOffsets="latest"`` + ``batch_rows`` pacing: the
    seek resolves at a partition's FIRST SIGHT by the cursor, not every
    trigger. At query start "latest" floors the cursor at the current
    ends (backlog skipped); a topic appearing MID-QUERY floors at 0 and
    its backlog is paced out batch_rows per partition per trigger —
    re-resolving "latest" each call chased the moving ends and planned
    the whole backlog into one unbounded batch (the A18 bypass this
    pins). Driven at the reader level with plain dict options."""
    import shutil

    from fs2_kafka_streams_spark.sources.python_source import _StreamReader

    broker = tmp_path / "broker"
    broker.mkdir()
    shutil.copy(f"{SF}/events.parquet", broker / "events-0.parquet")

    opts = {
        "broker_dir": str(broker),
        "topic_pattern": "events-.*",
        "partitions": "2",
        "batch_rows": "40",
        "cursor_file": str(tmp_path / "cursor.json"),
        "startingOffsets": "latest",
    }
    r = _StreamReader(opts)
    committed = r.initialOffset()
    ends0 = r._end_offsets("events-0", str(broker / "events-0.parquet"))
    assert committed["events-0"] == {str(p): e for p, e in ends0.items()}

    # first trigger: nothing below the start-time ends is planned
    off = r.latestOffset()
    assert not r.partitions(committed, off)
    committed = off

    # events-1 appears mid-query: its backlog must be PACED, not dumped
    shutil.copy(f"{SF}/events.parquet", broker / "events-1.parquet")
    ends1 = r._end_offsets("events-1", str(broker / "events-1.parquet"))
    served: dict[int, int] = {p: 0 for p in ends1}
    for _ in range(200):
        off = r.latestOffset()
        for pt in r.partitions(committed, off):
            assert pt.topic == "events-1"
            assert pt.start == served[pt.pid], "gap or re-serve"
            assert pt.end - pt.start <= 40, "pacing bypassed"
            served[pt.pid] = pt.end
        committed = off
        if served == ends1:
            break
    # the whole backlog arrived, exactly once, in paced slices
    assert served == ends1
    # and it genuinely took multiple triggers per partition
    assert max(ends1.values()) > 40


@pytest.mark.parametrize("grow_to", [0, 7])
def test_partition_counts_match_assignment_with_null_keys(tmp_path, grow_to):
    """The offset planner's per-partition end offsets and the read tasks'
    row assignment apply one partition-key rule (user_id, else event_id,
    else file row position): on a corpus with NULL keys AND NULL ids, the
    counts equal the bincount of the assigned pids, with and without
    partition growth."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fs2_kafka_streams_spark.sources.python_source import (
        _partition_assignment,
        _partition_counts,
    )

    rng = np.random.default_rng(5)
    n = 500
    uid = rng.integers(0, 40, size=n)
    eid = rng.permutation(np.arange(1, n + 1))
    uid_null = rng.random(n) < 0.3
    eid_null = rng.random(n) < 0.3
    assert (uid_null & eid_null).any()
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array(eid, pa.int64(), mask=eid_null),
            "ts": pa.array(rng.integers(0, 10**9, size=n), pa.int64()).cast(
                pa.timestamp("us")
            ),
            "user_id": pa.array(uid, pa.int64(), mask=uid_null),
        }),
        path,
    )
    counts = _partition_counts(path, N_PARTS, grow_to, n // 2)
    _order, pids = _partition_assignment(path, N_PARTS, grow_to, n // 2)
    want = np.bincount(pids, minlength=max(N_PARTS, grow_to))
    assert counts == {p: int(c) for p, c in enumerate(want)}
    assert sum(counts.values()) == n


def test_topic_reads_skip_pyarrow_dataset():
    """Planning offsets and serving a partition read the topic file without
    importing ``pyarrow.dataset``: a fresh source runner or read worker
    would pay its import (0.24 s) on its first call. Planning offsets
    imports no pandas either (0.27 s of a first ``latestOffset``). Checked
    in a new interpreter, whose imports no other test has made."""
    import subprocess
    import sys
    from pathlib import Path

    code = f"""
import sys
from fs2_kafka_streams_spark.sources import python_source as ps
path = "{SF}/events.parquet"
counts = ps._partition_counts(path, {N_PARTS}, 0, 0)
print("pandas" in sys.modules)
batch = ps._load_partition_batch(path, {N_PARTS}, 0, "events")
assert batch.num_rows == counts[0] > 0, (batch.num_rows, counts)
print("pyarrow.dataset" in sys.modules)
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=Path(__file__).resolve().parent.parent, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["False", "False"]
