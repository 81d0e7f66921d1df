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
