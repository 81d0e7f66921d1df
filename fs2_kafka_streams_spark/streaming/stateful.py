"""Streaming latest-by-key: the reference's persistent table materialization.

Reference semantics (``streams/Tables.scala:110-138``): consume a keyed
changelog in chunks, upsert latest value per key into a RocksDB-backed
store, expose the materialized view. Here the same contract — the
``(ts, event_id)``-max row per key across micro-batches, with an optional
tombstone column — runs as a Structured Streaming query on one of two
engines:

- :func:`_native_fold`, Spark's built-in streaming aggregation
  (``max_by`` in update mode, the batch twin's plan), behind
  :func:`latest_by_key_streaming` and
  :func:`latest_by_key_streaming_with_deletes`;
- ``transformWithStateInPandas`` (:class:`LatestDeletesProcessor`, which
  runs the Python fold :func:`_fold_latest`), behind the ``*_tws``
  entries and the only engine with a state-store tombstone retention.

The state store persists between micro-batches; a foreachBatch upsert sink
assembles the final view.

At scale this is the right shape: state is partitioned by key across
executors (RocksDB state store — configure
``spark.sql.streaming.stateStore.providerClass``), each micro-batch touches
only the keys present in the batch, and watermarking can bound state if the
key domain churns.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key
from fs2_kafka_streams_spark.streaming.conf import (
    STREAM_PERF_CONF,
    duration_us,
    pinned_conf,
)
from fs2_kafka_streams_spark.streaming.replay import replay_dir
from fs2_kafka_streams_spark.streaming.run import _drain

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)
# State schema of LatestDeletesProcessor's ValueState.
_STATE_SCHEMA = "event_id long, ts_us long, event_type string, value double, props string"
# deletes-variant state carries the tombstone flag: a tombstone is KEPT in
# state (with its (ts, event_id)) rather than removed, so a record OLDER
# than the tombstone arriving in a later micro-batch loses the comparison
# instead of resurrecting the key — Kafka's delete-retention window, and
# exactly the batch MERGE's (ts, event_id)-max semantics.
#
# Retention accounting: the kept marker makes dead-key STATE O(keys-ever-
# seen) until it is reclaimed. compact_upsert_log(retain_tombstones=False)
# GCs the SINK log only — state-store reclamation is the typed-state
# engine's ``tombstone_retention`` (event-time timers clear a tombstone
# once the watermark passes its ts + retention: Kafka's delete.retention.ms,
# with Kafka's own caveat that a record older than the tombstone arriving
# AFTER retention can resurrect the key). The native aggregation engine
# (_native_fold) has no retention hook; on an unbounded churning key domain
# use the TWS engine with retention, or accept O(keys-ever) state.
_STATE_SCHEMA_DEAD = _STATE_SCHEMA + ", dead boolean"
_OUTPUT_SCHEMA = (
    "user_id long, event_id long, ts timestamp_ntz, "
    "event_type string, value double, props string"
)
_OUTPUT_SCHEMA_DEAD = _OUTPUT_SCHEMA + ", _dead boolean"
#: The view's value columns, in ``_OUTPUT_SCHEMA`` order after ``user_id``.
_VIEW_COLS = ["event_id", "ts", "event_type", "value", "props"]


def _changelog_source(
    spark: SparkSession, path: str, schema: str = EVENTS_SCHEMA
) -> DataFrame:
    """Parquet changelog directory replayed 2 files per micro-batch: still
    crosses micro-batch boundaries (cross-batch state is the semantic under
    test — latest-by-key is batching-insensitive) at half the per-batch
    machinery cost of 1."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )


def _id_sort_keys(ids: np.ndarray, nulls_first: bool) -> tuple:
    """``np.lexsort`` keys (minor first) ordering an ``event_id`` column by
    value, NULLs first or last, for every dtype a fold is handed: int64,
    float64 with NaN for NULL, or object holding ints and None (which
    lexsort cannot compare)."""
    if ids.dtype.kind in "iu":
        return (ids,)
    null = pd.isna(ids)
    vals = np.where(null, 0, ids).astype("int64")
    return (vals, ~null if nulls_first else null)


def _pick_latest(pdf: pd.DataFrame, tombstone_col: str | None = None):
    """(ts, event_id)-max row of ONE pandas micro-batch frame as a state
    tuple ``(event_id, ts_us, event_type, value, props[, dead])`` plus the
    winning index — the per-frame step of :func:`_fold_latest`.

    NULL-safe on the payload columns: a NULL event_type/props stays None
    (``str()`` would store the literal string ``'None'``, silently
    diverging from the batch fold, which keeps NULL) and a NULL value
    stays None (``float()`` would store NaN). A NULL ts orders SMALLEST —
    the numpy iNaT sentinel is the most-negative int64, which matches the
    batch ``max_by``'s NULLS-FIRST struct ordering — and round-trips back
    out as NaT/NULL. A NULL ``event_id`` is an UNKEYED record (the r10
    NULL-id contract: its id is payload, it participates in every fold)
    that orders SMALLEST among same-ts ties — ``na_position="first"``
    matches the batch struct ordering's NULLS FIRST — and stays None in
    state (r11 NULL-id streaming sweep: ``int(NaN)`` crashed all four
    stateful engines the moment the replay became total on NULL ids).
    """
    # Per-key hot path (r12, guide §4.2): numpy lexsort instead of a
    # throwaway two-column DataFrame sort — this runs once per key per
    # micro-batch (measured 8.8× per call, byte-identical on the
    # randomized NULL/tie sweep in tests/test_fold_vectorized.py).
    ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    ids = pdf["event_id"].to_numpy()
    # max by (ts, id), NULLS FIRST on both: NaT is already the
    # most-negative int64; a NULL id must order SMALLEST among ts ties
    i = int(np.lexsort((*_id_sort_keys(ids, nulls_first=True), ts_us))[-1])

    def _opt(v, conv):
        return None if pd.isna(v) else conv(v)

    cand = (
        _opt(ids[i], int),
        int(ts_us[i]),
        _opt(pdf["event_type"].iloc[i], str),
        _opt(pdf["value"].iloc[i], float),
        _opt(pdf["props"].iloc[i], str),
    )
    if tombstone_col is not None:
        cand = cand + (bool(pdf[tombstone_col].iloc[i]),)
    return cand, pdf.index[i]


def _fold_rank(cand) -> tuple:
    """(ts, event_id) ordering key of a state tuple, total on NULL ids:
    a None event_id ranks below every real id at the same ts (the batch
    fold's NULLS-FIRST struct ordering) — a bare ``(ts, id)`` tuple
    comparison raises TypeError on None vs int."""
    return (cand[1], cand[0] is not None, 0 if cand[0] is None else cand[0])


def _fold_latest(best, frames, tombstone_col: str | None = None):
    """The Python latest-by-key fold of :class:`LatestDeletesProcessor`:
    fold one key's micro-batch ``frames`` into its stored state tuple
    ``best`` (None for a new key) by ``(ts, event_id)``-max, the order
    :func:`_native_fold` keeps in Spark. Returns the new best tuple and the
    ``(frame, index)`` of the row that last displaced the stored one (None
    when the stored tuple still wins)."""
    won = None
    for pdf in frames:
        if pdf.empty:
            continue
        cand, idx = _pick_latest(pdf, tombstone_col)
        if best is None or _fold_rank(cand) > _fold_rank(best):
            best, won = cand, (pdf, idx)
    return best, won


def _view_row(key, best) -> pd.DataFrame:
    """One-row view update for ``key`` from its state tuple; the tombstone
    variant's 6th field becomes the ``_dead`` flag the sink drops keys by."""
    row = {
        "user_id": [key[0]],
        "event_id": [best[0]],
        "ts": [pd.to_datetime(best[1], unit="us")],
        "event_type": [best[2]],
        "value": [best[3]],
        "props": [best[4]],
    }
    if len(best) > 5:
        row["_dead"] = [best[5]]
    return pd.DataFrame(row)


def _native_fold(
    src: DataFrame, tombstone_col: str | None = None
) -> DataFrame:
    """The upsert engine of the latest-by-key streaming queries: Spark's
    built-in streaming aggregation, ``max_by`` of the row by
    ``(ts, event_id)`` per ``user_id`` in update mode — the batch twin's
    plan (``operators/latest_by_key.py``) kept across micro-batches in the
    state store, with no Python worker on the path. The state holds one
    ``max_by`` buffer per group (``read_table_state`` reads it back); each
    trigger emits the current best row of every group it touched.

    A hot key needs no salting here. The fold can be pre-combined (max by
    an ordering tuple is associative and commutative), so the
    aggregation's map-side partial step folds each input task's rows of a
    key into one row before the state shuffle: a key carrying 95% of a
    trigger reaches its state partition as one row per input task, not as
    one group holding 95% of the batch. Measured on a 6 M-event corpus
    with one key carrying 95% of it, a two-level salted form of this fold
    was slower than this plain one (SCALE.md "Hot keys on the native
    fold").

    NULL ordering is the batch fold's: the ``struct(ts, event_id)``
    comparison puts a NULL ts or a NULL (unkeyed) event_id FIRST, so it
    loses every tie against a real value.

    With ``tombstone_col``, the delete flag rides in the picked row as
    ``_dead`` (a NULL flag is live, as in the batch MERGE), so a tombstone
    stays in state with its own ``(ts, event_id)``: a record OLDER than the
    tombstone arriving in a LATER micro-batch loses the comparison and the
    key stays dead, while a NEWER record re-inserts it, as on a compacted
    topic. This drives ``Table.delete`` (``streams/Table.scala:31``), which
    the reference exposes but its upsert-only ``Tables.scala`` changelog
    never emits. Duality-tested against the batch MERGE, out-of-order late
    records included, in tests/test_streaming_duality.py.

    Output is ``_OUTPUT_SCHEMA`` (plus ``_dead``)."""
    value_cols = [*_VIEW_COLS]
    if tombstone_col is not None:
        src = src.withColumn(
            "_dead", F.coalesce(F.col(tombstone_col), F.lit(False))
        )
        value_cols.append("_dead")
    return latest_by_key(
        src, ["user_id"], ["ts", "event_id"], value_cols, unique_order=True
    )


try:  # Spark 4.x arbitrary-state API; older clusters fall back to q38.
    # The API's state server speaks protobuf — require it up front so an
    # environment without it keeps the native aggregation (q38) instead of
    # crashing the driver worker. When the real distribution is absent the
    # vendored pure-Python wire-format shim (vendor/protobuf_shim) takes
    # over — PB_MODE records which one is active ("real" | "shim" | "none").
    from fs2_kafka_streams_spark.vendor import ensure_protobuf

    PB_MODE = ensure_protobuf()
    if PB_MODE == "none":
        raise ImportError("google.protobuf unavailable and shim missing")
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class LatestDeletesProcessor(StatefulProcessor):
        """StatefulProcessor for ``transformWithStateInPandas``: the
        :func:`_fold_latest` upsert, on the newer arbitrary-state API with
        a typed ValueState handle — the closest
        Spark analogue of the reference's typed RocksDB table
        (``streams/Table.scala:115-137``, ``Key.scala:3-17``).
        ``tombstone_col=None`` is the plain upsert; with a tombstone column
        the (ts, event_id)-max change wins and a delete marker is KEPT in
        the ValueState (with its ordering tuple) so a late older record
        cannot resurrect the key — duality-tested against the
        native aggregation engine and the batch MERGE (``Table.delete``,
        ``streams/Table.scala:31``).

        ``retention_us`` (requires a tombstone column, event-time mode and
        a watermark, see :func:`latest_by_key_tws_with_deletes`) is Kafka's
        ``delete.retention.ms`` for the STATE STORE: storing a tombstone
        arms a timer at ``tombstone_ts + retention``; when the watermark
        passes it the marker is cleared, reclaiming the dead key's state
        slot — so state is O(live keys + tombstones-within-retention)
        instead of O(keys-ever-seen). Kafka's own caveat applies: a record
        OLDER than the tombstone arriving after retention has expired can
        resurrect the key (the marker that would have out-ordered it is
        gone). Without retention the marker is permanent and the fold is
        order-insensitive forever."""

        def __init__(
            self, tombstone_col: str | None = "deleted",
            retention_us: int | None = None,
        ):
            if tombstone_col is None and retention_us is not None:
                raise ValueError("retention_us needs a tombstone_col")
            self._tombstone_col = tombstone_col
            self._retention_us = retention_us
            self._width = 5 if tombstone_col is None else 6

        def init(self, handle) -> None:
            self._handle = handle
            # Each mode keeps its own state schema so durable checkpoints
            # restart unchanged (a changed value schema fails RocksDB's
            # schema-compatibility check). Retention mode widens the
            # tombstone schema with tz_off_us (wall→UTC offset captured
            # when the row was stored, for timer-clock conversion — see
            # PatternTimerProcessor). A checkpoint written while the
            # widening was unconditional must be reopened with
            # ``tombstone_retention`` set (7-field schema) or rebuilt.
            dead = self._tombstone_col is not None
            schema = _STATE_SCHEMA_DEAD if dead else _STATE_SCHEMA
            if self._retention_us is not None:
                schema = schema + ", tz_off_us long"
            self._state = handle.getValueState("latest", schema)

        def _expiry_ms(self, ts_us: int, off_us: int) -> int:
            return (ts_us - off_us + self._retention_us) // 1000

        def handleInputRows(self, key, rows, timerValues):
            prev = tuple(self._state.get()) if self._state.exists() else None
            stored = prev[: self._width] if prev is not None else None
            best, won = _fold_latest(stored, rows, self._tombstone_col)
            if best is None:
                return
            if best != stored:
                if self._retention_us is None:
                    self._state.update(best)
                else:
                    self._store_with_timer(best, prev, won, timerValues)
            yield _view_row(key, best)

        def _store_with_timer(self, best, prev, won, timerValues) -> None:
            # a changed `best` always came from a batch frame. _utc_us is
            # that frame's LAST column by construction (appended by the
            # retention-mode source projection; TWS renames derived columns
            # positionally) — offset of the stored row itself, robust
            # across DST-spanning batches
            pdf, idx = won
            off_us = int(best[1]) - int(pdf.iloc[:, -1].loc[idx])
            self._state.update(best + (off_us,))
            wm = timerValues.getCurrentWatermarkInMs()
            if prev is not None and prev[5]:
                old_exp = self._expiry_ms(prev[1], prev[6])
                if old_exp > wm:
                    self._handle.deleteTimer(old_exp)
            if best[5]:
                self._handle.registerTimer(self._expiry_ms(best[1], off_us))

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # clear ONLY a tombstone whose retention is genuinely due —
            # a stale timer racing a same-batch re-insert is a no-op
            if self._retention_us is not None and self._state.exists():
                st = tuple(self._state.get())
                if st[5] and self._expiry_ms(st[1], st[6]) <= (
                    expiredTimerInfo.getExpiryTimeInMs()
                ):
                    self._state.clear()
            return iter(())

        def close(self) -> None:
            pass

    HAS_TWS = True
except ImportError:  # pragma: no cover
    HAS_TWS = False
    PB_MODE = "none"
# The gate is asserted against the actual environment (and against the
# driver registry's q38b exposure) in tests/test_kafka_contract.py::
# test_tws_gate_matches_environment — closed gate must fail loudly.


def _tws_prepare(spark: SparkSession) -> dict:
    """Gate + worker setup shared by every transformWithStateInPandas entry:
    raise if the API tier is absent, expose the vendored protobuf shim to
    worker processes when it is the active provider, and return the conf
    pin the API needs (each state variable lives in its own column family,
    which only RocksDBStateStoreProvider supports — a vanilla session's
    HDFS-backed default throws STATE_STORE_MULTIPLE_COLUMN_FAMILIES)."""
    if not HAS_TWS:
        raise NotImplementedError(
            "transformWithStateInPandas requires Spark >= 4.0"
        )
    if PB_MODE == "shim":
        # Python workers are fresh processes: expose the vendored shim on
        # their module path (worker daemons are keyed by env, so this takes
        # effect without a JVM restart).
        from fs2_kafka_streams_spark.vendor import inject_worker_path

        inject_worker_path(spark)
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    }


def latest_by_key_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A9 on ``transformWithStateInPandas`` — returns the final view
    (must equal batch Q17; cross-checked by the driver oracle as q38b)."""
    conf = _tws_prepare(spark)
    updates = (
        _changelog_source(spark, replay_dir(sf_dir, "events"))
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=LatestDeletesProcessor(tombstone_col=None),
            outputStructType=_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
    with pinned_conf(spark, conf):
        return _run_upsert_sink(spark, updates)


def latest_by_key_tws_with_deletes(
    spark: SparkSession,
    replay_path: str,
    tombstone_col: str = "deleted",
    checkpoint: str | None = None,
    sink_dir: str | None = None,
    tombstone_retention: str | None = None,
) -> DataFrame:
    """:func:`latest_by_key_streaming_with_deletes` on the typed-state API —
    same changelog-with-tombstones contract, same materialized view, driven
    through :class:`LatestDeletesProcessor`. Both state APIs run the same
    duality test against the batch MERGE
    (tests/test_streaming_duality.py).

    ``tombstone_retention`` (e.g. ``"5 minutes"``) enables the state-store
    delete-retention GC: event-time timers clear a tombstone marker once
    the watermark passes ``tombstone_ts + retention`` — Kafka's
    ``delete.retention.ms`` applied to the state slot, bounding state at
    O(live keys + recent tombstones) on a churning key domain. The
    materialized view is unchanged (the sink log keeps the tombstone head
    until :func:`compact_upsert_log` GCs it); only late records older than
    an EXPIRED tombstone can resurrect — Kafka's documented caveat."""
    conf = _tws_prepare(spark)
    src = _changelog_source(
        spark, replay_path, EVENTS_SCHEMA + f", {tombstone_col} boolean"
    )
    retention_us = None
    time_mode = "None"
    if tombstone_retention is not None:
        retention_us = duration_us(tombstone_retention)
        time_mode = "EventTime"
        # watermark rides a session-tz cast column, data stays NTZ;
        # _utc_us LAST so the processor reads it positionally (the q57b
        # technique — see streaming/cep.py::pattern_matches_stream_tws)
        src = (
            src.withColumn("_evt", F.col("ts").cast("timestamp"))
            .withColumn("_utc_us", F.unix_micros(F.col("_evt")))
            .withWatermark("_evt", "0 seconds")
            .select(
                "event_id", "ts", "user_id", "event_type", "value",
                "props", tombstone_col, "_utc_us",
            )
        )
    updates = src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=LatestDeletesProcessor(
            tombstone_col, retention_us=retention_us
        ),
        outputStructType=_OUTPUT_SCHEMA_DEAD,
        outputMode="Update",
        timeMode=time_mode,
    )
    with pinned_conf(spark, conf):
        return _run_upsert_sink(
            spark, updates, checkpoint=checkpoint, sink_dir=sink_dir,
            dead_col="_dead",
        )


@contextlib.contextmanager
def _sink_lock(sink_dir: str, exclusive: bool):
    """Advisory lock fencing the upsert-sink directory swap: triggers take
    it SHARED around their append, compaction takes it EXCLUSIVE around
    read→rewrite→rename — so an append can never land between compaction's
    two renames (where it would write into the doomed ``.old`` directory
    and be deleted, or recreate ``sink_dir`` and break the swap).

    The lock file lives BESIDE the sink directory (the directory itself is
    renamed during the swap). This is a single-host fence — exactly the
    harness's execution model; a multi-driver production deployment runs
    the same rewrite through a transactional table format
    (Delta/Iceberg ``replaceWhere``), as documented on
    :func:`compact_upsert_log`."""
    import fcntl

    lock_path = sink_dir.rstrip("/") + ".lock"
    with open(lock_path, "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def _read_upsert_log(
    spark: SparkSession, sink_dir: str, dead_col: str | None = None
) -> DataFrame:
    """The upsert log: the view's rows, the tombstone flag ``dead_col``
    when the sink has one, and each row's commit ``_epoch``."""
    schema = _OUTPUT_SCHEMA
    if dead_col is not None:
        schema += f", {dead_col} boolean"
    return spark.read.schema(schema + ", _epoch long").parquet(sink_dir)


def _log_fold(log: DataFrame, *cols: str | None) -> DataFrame:
    """Latest row per key of the upsert log by ``(_epoch, ts, event_id)``:
    its view columns plus the named ``cols`` (``_epoch``, the tombstone
    flag; a None is skipped). The folds emit MONOTONE rows per key, so
    commit order (``_epoch`` first) is also data order. The view read and
    compaction both fold here."""
    return latest_by_key(
        log,
        key_cols=["user_id"],
        order_cols=["_epoch", "ts", "event_id"],
        value_cols=[*_VIEW_COLS, *filter(None, cols)],
        # (_epoch, ts, event_id) is unique per key per append; an
        # at-least-once duplicate append ties only against an IDENTICAL
        # row, so dropping the value tie-break stays deterministic
        unique_order=True,
    )


def _log_head(log: DataFrame, dead_col: str | None = None) -> DataFrame:
    """The materialized view of the upsert log (:func:`_log_fold`); with
    ``dead_col``, keys whose head is a tombstone drop out — exactly a
    compacted topic's read view (tombstoned keys vanish once the tombstone
    is the head)."""
    head = _log_fold(log, dead_col)
    if dead_col is not None:
        head = head.filter(~F.col(dead_col)).drop(dead_col)
    return head


def compact_upsert_log(
    spark: SparkSession, sink_dir: str, dead_col: str | None = None,
    retain_tombstones: bool = True,
) -> tuple[int, int]:
    """Kafka-style log compaction for the upsert sink: rewrite the append
    log to exactly one row per key — the (epoch, ts, event_id)-max one,
    keeping its original ``_epoch`` so later appends (higher epochs) still
    order after it. Returns (rows_before, rows_after).

    For a DELETES sink (``latest_by_key_streaming_with_deletes``), pass its
    ``dead_col``: the tombstone flag must survive compaction — compacting
    with the default schema would silently strip it and RESURRECT deleted
    keys. ``retain_tombstones=True`` keeps the tombstone head row (Kafka's
    delete-retention window: replicas that haven't seen the delete yet can
    still learn it); ``False`` is the post-retention garbage collection
    that drops the whole key.

    The reference's table IS a compacted topic (``streams/Tables.scala``);
    this bounds the sink's storage at O(distinct keys) for a long-running
    query, matching broker-side compaction. The rewrite is flat, like the
    appends: each task of the fold writes one file. A log written in the
    retired partition-directory layout reads whole here and is rewritten
    flat, so compaction is its migration; appends refuse such a log until
    it is compacted (a directory holding both layouts would read back
    only part of its rows). The swap is directory-rename (atomic
    on a POSIX filesystem) fenced by :func:`_sink_lock`: compaction holds the
    lock EXCLUSIVE for the whole read→rewrite→swap, triggers hold it
    SHARED around their append — so a concurrent trigger can never
    interleave destructively with the swap (race-tested in
    tests/test_streaming_duality.py::test_compaction_concurrent_appends).
    A multi-driver production deployment runs the same rewrite through a
    transactional table format (Delta/Iceberg ``replaceWhere``) instead of
    a host-local lock.
    """
    with _sink_lock(sink_dir, exclusive=True):
        # crash recovery BEFORE reading (under the same exclusive lock the
        # swap holds): a previous compaction that died mid-swap leaves
        # either (a) both '.old' and the new sink — its rmtree never ran;
        # finish the cleanup — or (b) only '.old' — it died between the
        # two renames; roll the log back into place. Without this, case
        # (a) wedges every future compaction on ENOTEMPTY and case (b)
        # silently orphans the whole log.
        old_dir = sink_dir.rstrip("/") + ".old"
        tmp_dir = sink_dir.rstrip("/") + ".compacting"
        if os.path.isdir(old_dir):
            if os.path.isdir(sink_dir):
                shutil.rmtree(old_dir)
            else:
                os.rename(old_dir, sink_dir)
        shutil.rmtree(tmp_dir, ignore_errors=True)  # stale partial output
        log = _read_upsert_log(spark, sink_dir, dead_col)
        rows_before = log.count()
        compacted = _log_fold(log, "_epoch", dead_col)
        if dead_col is not None and not retain_tombstones:
            compacted = compacted.filter(~F.col(dead_col))
        compacted.write.mode("overwrite").parquet(tmp_dir)
        os.rename(sink_dir, old_dir)
        os.rename(tmp_dir, sink_dir)
        shutil.rmtree(old_dir)
        rows_after = _read_upsert_log(spark, sink_dir, dead_col).count()
    return rows_before, rows_after


#: tempdirs whose contents a returned lazy DataFrame may still read — they
#: can only be reclaimed when the process ends.
_EXIT_REAP: list[str] = []


def _reap_all() -> None:
    for d in _EXIT_REAP:
        shutil.rmtree(d, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.remove(d.rstrip("/") + ".lock")  # the sink's flock file


def _reap_at_exit(path: str) -> None:
    if not _EXIT_REAP:
        atexit.register(_reap_all)
    _EXIT_REAP.append(path)


def _run_upsert_sink(
    spark: SparkSession, updates: DataFrame, checkpoint: str | None = None,
    sink_dir: str | None = None, dead_col: str | None = None,
) -> DataFrame:
    """Drive the update stream to completion; materialize the view through a
    KEYED PARQUET UPSERT SINK (the Spark-native analogue of a compacted
    Kafka topic / KV store):

    - each micro-batch APPENDS its update rows — tagged with the commit
      epoch — to a flat parquet log: each state task writes its own rows
      as one file in the stage that commits its store — no exchange, no
      sort, and nothing flows through the driver. That is one file per
      non-empty state partition per epoch (task 0 also writes one when
      its partition is empty, for the schema); the log knows nothing of
      the partitioning;
    - the materialized view is the read-back latest row per key, ordered by
      (epoch, ts, event_id) — one ``max_by`` aggregation, shuffle volume
      O(distinct keys).

    The round-1 version collected every batch into a driver dict — a driver
    bottleneck growing with key cardinality. This shape survives 100×: the
    append log and the compaction read-back are both partitioned work.

    ``dead_col`` names the sink's tombstone column (the deletes engines'
    ``_dead``). An existing log in the retired partition-directory
    layout is refused with a ValueError before the query starts: run
    :func:`compact_upsert_log` on it first.
    """
    if sink_dir is None:
        # The returned DataFrame reads the sink LAZILY, so the directory
        # must outlive this call — clean it at interpreter exit instead
        # (an unmanaged mkdtemp here used to leak one O(events) log per
        # driver-gate/bench/test run).
        sink_dir = tempfile.mkdtemp(prefix=f"sink_upsert_{uuid.uuid4().hex[:8]}_")
        _reap_at_exit(sink_dir)

    # Epoch ids restart at 0 on a FRESH checkpoint; appending a re-run's
    # batches to an EXISTING sink with raw epoch ids would let the prior
    # run's higher-_epoch rows shadow genuinely newer updates in
    # _log_head's (_epoch, ts, event_id) ordering. Offset this run's
    # epochs past everything already in the log. (A crash-resume on the
    # SAME checkpoint recomputes a higher base for the replayed batch —
    # harmless: the replayed rows are identical in content, and either
    # copy is the same head.) The scan holds the shared sink lock so it
    # cannot interleave with compaction's exclusive directory-rename swap.
    # Writers themselves are one-at-a-time per sink (q75's writer flock is
    # the pattern): two runs snapshotting the same base would interleave
    # epochs — same as the pre-base behavior, not a regression, but not
    # supported either.
    epoch_base = 0
    with _sink_lock(sink_dir, exclusive=False):
        logged = (
            [f for f in os.listdir(sink_dir) if not f.startswith(".")]
            if os.path.isdir(sink_dir) else []
        )
        if any(f.startswith("_bucket=") for f in logged):
            # flat appends beside partition directories would read back
            # only part of the log
            dead = "" if dead_col is None else f", dead_col={dead_col!r}"
            raise ValueError(
                f"upsert log {sink_dir} is in the retired _bucket= layout; "
                f"run compact_upsert_log(spark, {sink_dir!r}{dead}) first, "
                "which rewrites it flat"
            )
        if logged:
            prev_max = (
                _read_upsert_log(spark, sink_dir, dead_col)
                .agg(F.max("_epoch"))
                .collect()[0][0]
            )
            epoch_base = (prev_max + 1) if prev_max is not None else 0

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        # SHARED lock: appends may run concurrently with each other but
        # never overlap compaction's exclusive directory swap
        with _sink_lock(sink_dir, exclusive=False):
            batch_df.select(
                "*", F.lit(epoch_base + epoch_id).alias("_epoch")
            ).write.mode("append").parquet(sink_dir)

    # a checkpoint the drain creates is deleted after termination; only
    # the sink must outlive this call (the returned view reads it lazily)
    _drain(
        spark,
        updates.writeStream.outputMode("update").foreachBatch(upsert),
        "upsert_sink",
        STREAM_PERF_CONF,
        checkpoint,
    )

    return _log_head(
        _read_upsert_log(spark, sink_dir, dead_col), dead_col=dead_col
    )


def latest_by_key_streaming(
    spark: SparkSession, sf_dir: str, checkpoint: str | None = None,
    sink_dir: str | None = None,
) -> DataFrame:
    """Run the changelog→table materialization as a real streaming query and
    return the final materialized view (equals batch Q17 — stream-table
    duality). Pass ``checkpoint`` to keep the state store inspectable
    afterwards via :func:`read_table_state` (A10 interactive reads); pass
    ``sink_dir`` to keep the upsert log for :func:`compact_upsert_log`."""
    src = _changelog_source(spark, replay_dir(sf_dir, "events"))
    updates = _native_fold(src)
    return _run_upsert_sink(
        spark, updates, checkpoint=checkpoint, sink_dir=sink_dir
    )


def latest_by_key_streaming_with_deletes(
    spark: SparkSession,
    replay_path: str,
    tombstone_col: str = "deleted",
    checkpoint: str | None = None,
    sink_dir: str | None = None,
) -> DataFrame:
    """Changelog→table materialization where the changelog carries DELETE
    markers (boolean ``tombstone_col``): a key whose latest change is a
    tombstone drops out of the materialized view, its state holding the
    tombstone marker until compaction GC — the streaming twin of the batch
    MERGE's tombstone branch (``operators/incremental.py``) and the
    reference's ``Table.delete`` (``streams/Table.scala:31``).

    ``replay_path`` is a directory of parquet files in changelog order
    (events schema + the tombstone column), replayed 2 files/trigger so
    delete/re-insert sequences cross micro-batch boundaries.
    """
    src = _changelog_source(
        spark, replay_path, EVENTS_SCHEMA + f", {tombstone_col} boolean"
    )
    updates = _native_fold(src, tombstone_col)
    return _run_upsert_sink(
        spark, updates, checkpoint=checkpoint, sink_dir=sink_dir,
        dead_col="_dead",
    )


def read_table_state(spark: SparkSession, checkpoint: str) -> DataFrame:
    """Interactive state read (A10, ``ReadOnlyTable.get``,
    ``streams/Table.scala:11``): read the live RocksDB/HDFS state of the
    latest-by-key query DIRECTLY from its checkpoint via Spark's State Data
    Source — the "get(k) now, without waiting for the sink" path the
    reference exposes on its table handle.

    Returns the same (user_id, event_id, ts, event_type, value, props)
    schema as the materialized view; point lookups / multi-gets are filters
    over it (partition-pruned by the state store layout at scale).
    """
    raw = spark.read.format("statestore").load(checkpoint)
    # the aggregation persists (key struct, value struct) rows; the value
    # is the max_by buffer, whose picked row (already typed: ts is NTZ)
    # sits under valueWithExtremumOrdering (see _native_fold)
    return raw.select("key.user_id", "value.valueWithExtremumOrdering.*")
