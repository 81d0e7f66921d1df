"""The one availableNow drain (``streaming/run.py::_drain``): checkpoint
ownership, conf pinning and what its run trace records, plus the layout
of the upsert sink it drives (one log file per state task per epoch)."""

from __future__ import annotations

import glob
import os
import tempfile
import uuid

import pandas as pd
import pytest

from fs2_kafka_streams_spark.streaming import conf as sconf
from fs2_kafka_streams_spark.streaming.run import _drain
from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA
from tests.conftest import SF_SMOKE, write_replay_files


def _source(spark, tmp_path, n_files=2):
    frames = [
        pd.DataFrame({
            "event_id": [i],
            "ts": [pd.Timestamp(1_000_000 * i, unit="us")],
            "user_id": [1],
            "event_type": ["view"],
            "value": [float(i)],
            "props": ["{}"],
        })
        for i in range(n_files)
    ]
    rep = write_replay_files(tmp_path / "rep", frames)
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(rep)
    )


def test_drain_removes_its_own_checkpoint_when_batch_raises(spark, tmp_path):
    name = f"drain_boom_{uuid.uuid4().hex[:8]}"
    pattern = f"{tempfile.gettempdir()}/ckpt_{name}_*"
    live: list[str] = []

    def boom(batch_df, epoch_id):
        live.extend(glob.glob(pattern))
        raise RuntimeError("sink down")

    writer = _source(spark, tmp_path).writeStream.foreachBatch(boom)
    with pytest.raises(Exception, match="sink down"):
        _drain(spark, writer, name, dict(sconf.STREAM_PERF_CONF))
    assert len(live) == 1  # the drain's own checkpoint was in use
    assert glob.glob(pattern) == []


def test_caller_checkpoint_survives_and_redrain_commits_nothing(
    spark, tmp_path
):
    src = _source(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    epochs: list[int] = []

    def run():
        writer = src.writeStream.foreachBatch(
            lambda bdf, eid: epochs.append(eid)
        )
        seq = sconf.PIN_SEQ
        _drain(spark, writer, "drain_owned", checkpoint=ckpt)
        # confs=None pins nothing: the stateless callers' contract
        assert sconf.PIN_SEQ == seq

    run()
    assert epochs == [0, 1]
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    run()
    assert epochs == [0, 1]
    assert sorted(os.listdir(os.path.join(ckpt, "commits"))) == commits


def test_bench_run_entry_cleans_up_and_reports_triggers(spark):
    """bench.run_entry on a streaming entry drops the memory sink it
    registered and returns the confs the drain pinned plus one trace
    record per drained query, each trigger carrying its durationMs."""
    import bench
    from fs2_kafka_streams_spark.queries import load_all

    spec = load_all()["q45_stream_table_join"]
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    dt, pinned, runs = bench.run_entry(spark, spec, SF_SMOKE)
    after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert after <= views, after - views
    assert dt > 0
    assert set(sconf.STREAM_PERF_CONF) <= set(pinned)
    assert runs and all(r["n_triggers"] >= 1 for r in runs)
    for r in runs:
        assert len(r["triggers"]) == r["n_triggers"]
        for t in r["triggers"]:
            assert t["durationMs"]["triggerExecution"] >= 0
            assert t["durationMs"]["addBatch"] >= 0
            assert t["state_commit_ms_tasksum"] >= 0
            # a stream-static join keeps no state store
            assert t["state_instances"] == 0


def _changes(i, n_keys):
    """Replay file ``i``: one change for each of ``n_keys`` keys, at ts
    ``i`` s, with event ids ``100 * i + key``."""
    return pd.DataFrame({
        "event_id": [100 * i + k for k in range(n_keys)],
        "ts": pd.to_datetime([1_000_000 * i] * n_keys, unit="us"),
        "user_id": list(range(n_keys)),
        "event_type": ["view"] * n_keys,
        "value": [float(i)] * n_keys,
        "props": ["{}"] * n_keys,
    })


def _restarted_upsert(spark, tmp_path, monkeypatch, first, then, n_keys):
    """Drain files 0-1 of a changelog through the upsert sink on a new
    checkpoint at ``first`` state partitions, then files 2-3 on the same
    checkpoint and sink with the rule pinning ``then``. Returns the
    final view, the state-instance counts of each run's triggers and the
    sink directory."""
    from fs2_kafka_streams_spark.streaming import run as srun
    from fs2_kafka_streams_spark.streaming.stateful import (
        _native_fold,
        _run_upsert_sink,
    )

    rep = tmp_path / "rep"
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    def drain(partitions):
        src = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(str(rep))
        )
        with monkeypatch.context() as m:
            m.setitem(
                sconf.STREAM_PERF_CONF, "spark.sql.shuffle.partitions",
                partitions,
            )
            view = _run_upsert_sink(
                spark, _native_fold(src), checkpoint=ckpt, sink_dir=sink
            )
        triggers = srun.RUN_TRACE[-1]["triggers"]
        return view, {t["state_instances"] for t in triggers}

    write_replay_files(rep, [_changes(0, n_keys), _changes(1, n_keys)])
    _, first_run = drain(first)
    # two more files arrive (later mtimes); the restart runs under `then`
    for i in (2, 3):
        _changes(i, n_keys).astype({"ts": "datetime64[us]"}).to_parquet(
            rep / f"part-{i:02d}.parquet", index=False
        )
    view, second_run = drain(then)
    return view, (first_run, second_run), sink


def test_checkpoint_keeps_its_state_partitions_on_restart(
    spark, tmp_path, monkeypatch
):
    """The partition rule sizes NEW stateful checkpoints only: one first
    started at 16 state partitions restarts with 16 under the rule — Spark
    restores the count from the offset log — and the view still folds
    both runs' changes."""
    view, runs, _ = _restarted_upsert(
        spark, tmp_path, monkeypatch, "16", sconf.STREAM_STATE_PARTITIONS, 3
    )
    assert runs == ({16}, {16})
    assert sorted((r.user_id, r.event_id) for r in view.collect()) == [
        (k, 300 + k) for k in range(3)
    ]


def test_resumed_upsert_log_appends_the_checkpoints_file_count(
    spark, tmp_path, monkeypatch
):
    """Each state task appends its own file of the upsert log, and a
    checkpoint's state-partition count is restored by Spark: a checkpoint
    first started at 2 state partitions and resumed under a 4-partition
    rule still runs 2 store instances and appends at most 2 files per
    epoch — although its 20 keys spread over more than 2 partitions at 4
    — and the view folds both runs."""
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.streaming.stateful import _read_upsert_log
    from tests.conftest import upsert_files_per_epoch

    view, runs, sink = _restarted_upsert(
        spark, tmp_path, monkeypatch, "2", "4", 20
    )
    assert runs == ({2}, {2})
    at_four = spark.range(20).select(F.pmod(F.hash("id"), F.lit(4)))
    assert at_four.distinct().count() > 2
    per_epoch = upsert_files_per_epoch(sink)
    epochs = _read_upsert_log(spark, sink).select("_epoch").distinct()
    assert len(per_epoch) == epochs.count() > 1
    assert max(per_epoch.values()) <= 2, per_epoch
    assert sorted((r.user_id, r.event_id) for r in view.collect()) == [
        (k, 300 + k) for k in range(20)
    ]


def test_upsert_trigger_is_scan_and_state_write_stages(spark):
    """Each upsert trigger is one job of two stages: the source scan, and
    the state stage that folds, commits its store and appends its file
    of the log, with no exchange between fold and write. Spark runs a
    query's trigger jobs under its run id as the job group."""
    from fs2_kafka_streams_spark.streaming import run as srun
    from fs2_kafka_streams_spark.streaming.stateful import (
        latest_by_key_streaming,
    )

    latest_by_key_streaming(spark, SF_SMOKE)
    rec = srun.RUN_TRACE[-1]
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(rec["run_id"])
    assert len(jobs) == rec["n_triggers"] >= 2
    assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == (
        [2] * len(jobs)
    )


TRACK_ROWS = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"


def test_drain_leaves_the_callers_pins_alone(spark, tmp_path):
    """A key the caller pins in an open ``pinned_conf`` scope wins over the
    drain's own pin of it: ``STREAM_PERF_CONF`` turns RocksDB's row count
    off, the caller's scope turns it on, and the last trigger counts the
    one key's state row. The drain still pins its other keys."""
    writer = (
        _source(spark, tmp_path).groupBy("user_id").count()
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda bdf, eid: bdf.write.format("noop").mode("overwrite").save()
        )
    )
    seq = sconf.PIN_SEQ
    with sconf.pinned_conf(spark, {TRACK_ROWS: "true"}):
        _drain(spark, writer, "drain_caller_pins",
               dict(sconf.STREAM_PERF_CONF))
    from fs2_kafka_streams_spark.streaming import run as srun

    assert srun.RUN_TRACE[-1]["triggers"][-1]["state_rows"] > 0
    outer, drained = sconf.PIN_TRACE[seq - sconf.PIN_SEQ:]
    assert outer == {TRACK_ROWS: "true"}
    assert drained == {
        k: v for k, v in sconf.STREAM_PERF_CONF.items() if k != TRACK_ROWS
    }
    assert not sconf.open_pins()


def test_q48_join_evicts_state_rows(spark):
    """q48's watermarked self-join evicts join state while it runs: at
    least one trigger removes state rows. RocksDB counts rows only with
    ``trackTotalNumberOfRows`` on, which a scope around the entry turns
    on over the drain's ``STREAM_PERF_CONF``."""
    from fs2_kafka_streams_spark.queries import load_all
    from fs2_kafka_streams_spark.streaming import run as srun
    from tests.conftest import SF_CORRECT

    with sconf.pinned_conf(spark, {TRACK_ROWS: "true"}):
        load_all()["q48_stream_stream_join"].build(spark, SF_CORRECT)
    rec = srun.RUN_TRACE[-1]
    removed = [t["state_rows_removed"] for t in rec["triggers"]]
    assert rec["name"].startswith("q48_sink")
    assert max(removed) > 0, removed
