"""Run a streaming DataFrame to completion and return the sink contents.

The harness pattern: ``availableNow`` trigger + memory sink + fresh
checkpoint = a deterministic, bounded replay of the file stream (see
:mod:`fs2_kafka_streams_spark.streaming.replay`). Production uses the same
plan with a Kafka/parquet sink and a durable checkpoint instead.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from fs2_kafka_streams_spark.streaming.conf import (
    STREAM_PERF_CONF,
    pinned_conf,
)

#: Rolling trace of completed streaming runs, appended by every runner
#: right after ``awaitTermination``: ``{"name", "run_id", "n_triggers",
#: "triggers"}`` per query, where ``triggers`` holds one record per
#: progress event in ``recentProgress`` (see :func:`record_run`). Same
#: contract as ``conf.PIN_TRACE``: measurement harnesses (bench.py) snapshot
#: ``RUN_SEQ`` around each timed entry and record how many micro-batches
#: that entry actually executed and where each trigger's time went — the
#: per-trigger checkpoint fsync count is the streaming family's dominant
#: IO cost, so a trigger-count change between rounds must be visible in
#: the artifact, not inferred (VERDICT r8 #6). Control flow never reads it.
RUN_TRACE: list[dict] = []
_RUN_TRACE_MAX = 256

#: Monotonic count of every RUN_TRACE append ever made — snapshot THIS,
#: not ``len(RUN_TRACE)`` (the rolling trim shifts indices).
RUN_SEQ = 0

#: The ``durationMs`` phases kept per trigger (wall ms on the driver).
TRIGGER_PHASES = (
    "triggerExecution", "addBatch", "queryPlanning", "walCommit",
    "commitOffsets",
)


def _trigger_record(progress) -> dict:
    """One trigger's wall phases, plus its state-store commit time summed
    over every store instance — a task sum (8 partitions × 4 stores is 32
    instances for a stream-stream join), never to be read as wall time —
    that instance count, ``state_instances`` (0 for a stateless query),
    and ``state_rows_removed``, the state rows the trigger evicted
    (``numRowsRemoved`` summed over the stateful operators)."""
    dm = progress["durationMs"] or {}
    ops = progress["stateOperators"] or []
    return {
        "batchId": progress["batchId"],
        "durationMs": {k: dm[k] for k in TRIGGER_PHASES if k in dm},
        "state_commit_ms_tasksum": sum(s["commitTimeMs"] for s in ops),
        "state_instances": sum(
            s.get("numStateStoreInstances", 0) for s in ops
        ),
        "state_rows_removed": sum(s["numRowsRemoved"] for s in ops),
    }


def record_run(name: str, query) -> None:
    """Append a completed query's micro-batch count and per-trigger
    breakdown to :data:`RUN_TRACE`, with its ``run_id``: the job group
    Spark runs the query's triggers under.

    ``lastProgress.batchId`` is 0-based over a fresh checkpoint, so
    ``+ 1`` is the executed-trigger count; a query that never produced a
    progress event records 0. If reading the progress itself throws, the
    count is unknowable and records ``None`` (→ ``null`` in
    BENCH_FULL.json's ``n_triggers`` lists) — never a numeric sentinel a
    cross-round sum/diff could silently absorb as an executed count — and
    ``triggers`` is ``None`` too."""
    global RUN_SEQ
    try:
        run_id = str(query.runId)
        lp = query.lastProgress
        n = int(lp["batchId"]) + 1 if lp else 0
        triggers = [_trigger_record(p) for p in query.recentProgress]
    except Exception:  # pragma: no cover — tracing must never fail a run
        run_id = n = triggers = None
    RUN_TRACE.append({"name": name, "run_id": run_id, "n_triggers": n,
                      "triggers": triggers})
    RUN_SEQ += 1
    del RUN_TRACE[:-_RUN_TRACE_MAX]


def _drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    name: str,
    confs: dict[str, str] | None = None,
    checkpoint: str | None = None,
) -> None:
    """Run a configured ``DataStreamWriter`` to completion with an
    ``availableNow`` trigger — the one drain every bounded streaming run in
    the package goes through. ``confs`` are pinned (scoped, restored)
    around start and termination; ``None`` pins nothing (a stateless
    query's ``foreachBatch`` plans must see the session's own confs). The
    completed run is appended to :data:`RUN_TRACE` under ``name``.

    ``checkpoint=None`` drains on a fresh tempdir checkpoint that is
    deleted afterwards, on failure too: availableNow ran the stream to
    completion (or died), so nothing resumes from it, and a RocksDB tree
    left per failing run fills the temp dir. A caller-passed checkpoint is the
    caller's to restart from and is never touched."""
    own = checkpoint is None
    if own:
        checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        pin = pinned_conf(spark, confs) if confs is not None else nullcontext()
        with pin:
            q = (
                writer.option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        record_run(name, q)
    finally:
        if own:
            shutil.rmtree(checkpoint, ignore_errors=True)


def run_to_memory(
    spark: SparkSession,
    df: DataFrame,
    name_prefix: str,
    output_mode: str = "append",
    extra_conf: dict[str, str] | None = None,
) -> DataFrame:
    """Returns the memory-sink table. The sink itself (small by design —
    every harness query aggregates before sinking) lives until the session
    ends or the caller drops it; the RocksDB checkpoint tree, which is NOT
    small, is deleted by :func:`_drain` once the query has terminated."""
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    writer = (
        df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    )
    _drain(spark, writer, name, {**STREAM_PERF_CONF, **(extra_conf or {})})
    return spark.table(name)
