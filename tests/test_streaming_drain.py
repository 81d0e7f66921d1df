"""The one availableNow drain (``streaming/run.py::_drain``): checkpoint
ownership and conf pinning, independent of any particular query."""

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


def test_checkpoint_keeps_its_state_partitions_on_restart(
    spark, tmp_path, monkeypatch
):
    """The partition rule sizes NEW stateful checkpoints only: one first
    started at 16 state partitions restarts with 16 under the rule — Spark
    restores ``spark.sql.shuffle.partitions`` from the offset log — and
    the view still folds both runs' changes."""
    from fs2_kafka_streams_spark.streaming import run as srun
    from fs2_kafka_streams_spark.streaming.stateful import (
        _native_fold,
        _run_upsert_sink,
    )

    def frame(i):
        return pd.DataFrame({
            "event_id": [i, 100 + i],
            "ts": pd.to_datetime([1_000_000 * i] * 2, unit="us"),
            "user_id": [i % 2, 2],
            "event_type": ["view", "click"],
            "value": [float(i), float(100 + i)],
            "props": ["{}", "{}"],
        })

    rep = tmp_path / "rep"
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    def drain():
        src = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(str(rep))
        )
        view = _run_upsert_sink(
            spark, _native_fold(src), checkpoint=ckpt,
            sink_dir=sink,
        )
        triggers = srun.RUN_TRACE[-1]["triggers"]
        return view, {t["state_instances"] for t in triggers}

    write_replay_files(rep, [frame(0), frame(1)])
    with monkeypatch.context() as m:
        m.setitem(sconf.STREAM_PERF_CONF, "spark.sql.shuffle.partitions", "16")
        _, first = drain()
    assert first == {16}

    # two more changes arrive; the restart runs under the rule
    for i in (2, 3):
        frame(i).astype({"ts": "datetime64[us]"}).to_parquet(
            rep / f"part-{i:02d}.parquet", index=False
        )
    assert sconf.STREAM_PERF_CONF["spark.sql.shuffle.partitions"] == (
        sconf.STREAM_STATE_PARTITIONS
    )
    view, second = drain()
    assert second == {16}
    assert sorted((r.user_id, r.event_id) for r in view.collect()) == [
        (0, 2), (1, 3), (2, 103),
    ]
