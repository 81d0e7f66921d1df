"""Streaming pattern detection (CEP-lite): chains of "followed by" hops.

The reference exposes per-partition, order-preserving typed streams
(``client/RecordStream.scala:14-16``) precisely so consumers can run
order-sensitive logic like this; here the same contract is a keyed
stateful streaming operator running ONE algorithm, a chain over N event
types (stages). A stage-0 row qualifies on its event type. Hop k
qualifies a stage-k row when the key's last STRICTLY-prior qualified
stage-(k-1) event — in ``(ts, event_id NULLS LAST)`` order, or carried
from earlier micro-batches — lies within ``0 <= lag <= gap``. Every
qualified final-stage row emits its chain. Followed-by is the two-stage
chain ``(base, trigger)`` — e.g. "click within 10 minutes of a view";
the funnel is the three-stage chain ``(view, click, purchase)``.

State per key is one chain per level, O(keys) state and never O(events):
level k holds the chain ending at the key's last qualified stage-(k-1)
event, as k ``(event_id, ts_us)`` pairs, newest stage first, overwritten
whenever a newer one qualifies — so state size is bounded regardless of
stream length. Followed-by keeps level 1 ``(base_event_id, base_ts_us)``;
the funnel keeps levels 1 and 2 ``(v_id, v_ts, c_id, c_ts, cv_id,
cv_ts)``. Rows are processed in ``(ts, event_id)`` order: the
time-ordered replay guarantees it across micro-batches (contiguous time
chunks), and the fold sorts within each batch — so the streaming result
equals the batch last-prior-qualified window formulation row for row
(asserted in tests/test_streaming_duality.py and hash-checked against
the DuckDB oracle as q57 and q59).

Match timestamps compare in exact microseconds; the emitted lag is the
floor(epoch-seconds) difference between the last and the first stage,
matching the SQL ``floor(extract(epoch ...))`` convention used across
the repo.
"""

from __future__ import annotations

import uuid
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fs2_kafka_streams_spark.queries import ntz_epoch_seconds
from fs2_kafka_streams_spark.streaming.replay import replay_dir
from fs2_kafka_streams_spark.streaming.conf import STREAM_PERF_CONF, duration_us
from fs2_kafka_streams_spark.streaming.run import _drain, run_to_memory
from fs2_kafka_streams_spark.streaming.stateful import (
    HAS_TWS,
    _changelog_source,
    _id_sort_keys,
    _tws_prepare,
)

_MATCH_SCHEMA = (
    "user_id long, base_event_id long, trigger_event_id long, "
    "base_ts timestamp_ntz, trigger_ts timestamp_ntz, lag_seconds long"
)
_STATE_SCHEMA = "base_event_id long, base_ts_us long"
_FUNNEL_SCHEMA = (
    "user_id long, view_event_id long, click_event_id long, "
    "purchase_event_id long, view_ts timestamp_ntz, "
    "click_ts timestamp_ntz, purchase_ts timestamp_ntz, "
    "total_lag_seconds long"
)
# level-1 state (last base) + level-2 state (last qualified mid + its base)
_FUNNEL_STATE = (
    "v_id long, v_ts long, c_id long, c_ts long, cv_id long, cv_ts long"
)


class _Shape(NamedTuple):
    """How a chain is emitted: one output column stem per stage
    (``{stem}_event_id`` ..., then ``{stem}_ts`` ...), the lag column,
    and the output and state schemas."""

    names: tuple[str, ...]
    lag_col: str
    out_schema: str
    state_schema: str


_FOLLOWED_BY = _Shape(
    ("base", "trigger"), "lag_seconds", _MATCH_SCHEMA, _STATE_SCHEMA
)
_FUNNEL = _Shape(
    ("view", "click", "purchase"), "total_lag_seconds",
    _FUNNEL_SCHEMA, _FUNNEL_STATE,
)


def _chain_fold(
    frames: list[pd.DataFrame],
    state: tuple,
    stages: tuple[str, ...],
    gap_us: int,
    shape: _Shape,
) -> tuple[tuple, pd.DataFrame | None]:
    """Pure per-key fold shared by BOTH state APIs
    (``applyInPandasWithState`` and ``transformWithStateInPandas``): given
    the batch's frames and the carried flat state (levels 1..N-1, level k
    at slot ``k*(k-1)``, None slots while it is empty), return
    (new_state, match_frame_or_None)."""
    if not frames:
        return state, None
    pdf = frames[0] if len(frames) == 1 else pd.concat(
        frames, ignore_index=True
    )
    # Per-key hot path (r12, guide §4.2): this fold runs once per KEY per
    # micro-batch, so its constant factor multiplies by the key count —
    # plain numpy throughout (lexsort + maximum.accumulate) instead of
    # pandas Series machinery (byte-identical output on the randomized
    # NULL/tie/extreme-ts sweeps pinned in tests/test_fold_vectorized.py).
    ts = pdf["ts"].to_numpy().astype("int64") // 1000
    # event_id as int64 values plus a NULL mask, for every dtype a state
    # API hands over: an unkeyed event's NULL id is payload, carried
    # faithfully into matches and state
    keys = _id_sort_keys(pdf["event_id"].to_numpy(), nulls_first=False)
    # sort by (ts, id); NULL event_ids sort LAST among ts ties (pandas'
    # na_position default) — exactly DuckDB's ASC NULLS LAST, so the
    # oracle needs no spelling
    order = np.lexsort((*keys, ts))
    ts, ids = ts[order], keys[0][order]
    null = keys[1][order] if len(keys) > 1 else np.zeros(len(ts), bool)
    et = pdf["event_type"]
    idx = np.arange(len(ts), dtype=np.int64)
    qual = (et == stages[0]).to_numpy()[order]
    quals, prior = [], []
    for k, stage in enumerate(stages[1:], 1):
        # last qualified stage-(k-1) row STRICTLY before each row, tracked
        # by ROW POSITION (running max shifted one row, so a type that is
        # both stages links to the PREVIOUS one — the batch 1-PRECEDING
        # frame); -1 falls back to carried level k. Position, not id: a
        # NULL-id event is still a real event, and an id-ffill would
        # attribute its matches to an OLDER event's id (r10 NULL-id sweep).
        pos = np.where(qual, idx, np.int64(-1))
        np.maximum.accumulate(pos, out=pos)
        pos = np.concatenate(([np.int64(-1)], pos[:-1]))
        # the level's ts slot (never NULL after the ts filter) marks its
        # existence — the id slot may be genuinely NULL
        carried = state[k * (k - 1) + 1]
        lag = ts - np.where(pos >= 0, ts[pos], carried or 0)
        ok = (lag >= 0) & (lag <= gap_us)
        if carried is None:
            ok &= pos >= 0
        quals.append(qual)
        prior.append(pos)
        qual = (et == stage).to_numpy()[order] & ok

    def chain(rows, s):
        # (ids, NULL-id mask, ts) of the chains ending at stage-s rows,
        # stage s down to 0; lvl is the carried level a row's chain
        # continues in (0: none yet)
        links, lvl = [], np.zeros(len(rows), dtype=np.int64)
        for k in range(s, -1, -1):
            v, nl, t = ids[rows], null[rows], ts[rows]
            for level in range(k + 1, len(stages)):
                m = lvl == level
                if m.any():
                    o = level * (level - 1) + 2 * (level - 1 - k)
                    v[m], nl[m] = state[o] or 0, state[o] is None
                    t[m] = state[o + 1]
            links.append((v, nl, t))
            if k:
                p = prior[k - 1][rows]
                lvl = np.where((lvl == 0) & (p < 0), k, lvl)
                rows = p
        return links

    new = list(state)
    for k, q in enumerate(quals, 1):
        if q.any():
            new[k * (k - 1):k * (k + 1)] = [
                x
                for v, nl, t in chain(np.flatnonzero(q)[-1:], k - 1)
                for x in (None if nl[0] else int(v[0]), int(t[0]))
            ]
    hit = np.flatnonzero(qual)
    if not len(hit):
        return tuple(new), None
    links = chain(hit, len(stages) - 1)[::-1]
    # nullable Int64: the NULL grouping key is a legitimate group (batch
    # PARTITION BY groups NULLs together on both engines)
    cols = {
        "user_id": pd.array(pdf["user_id"].to_numpy()[order][hit], "Int64")
    }
    for name, (v, nl, _) in zip(shape.names, links):
        cols[f"{name}_event_id"] = pd.arrays.IntegerArray(v, nl)
    for name, (_, _, t) in zip(shape.names, links):
        cols[f"{name}_ts"] = pd.to_datetime(t, unit="us")
    cols[shape.lag_col] = links[-1][2] // 1_000_000 - links[0][2] // 1_000_000
    return tuple(new), pd.DataFrame(cols)


def _chain_update_fn(stages: tuple[str, ...], gap_us: int, shape: _Shape):
    """``applyInPandasWithState`` function running :func:`_chain_fold`."""
    slots = len(stages) * (len(stages) - 1)

    def update(key, pdf_iter, state: GroupState):
        st = tuple(state.get) if state.exists else (None,) * slots
        frames = [pdf for pdf in pdf_iter if not pdf.empty]
        new, match = _chain_fold(frames, st, stages, gap_us, shape)
        if any(x is not None for x in new):
            state.update(new)
        if match is not None:
            yield match

    return update


def _events_source(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """``source`` (default: the time-ordered replay of
    ``{sf_dir}/events.parquet``, 2 files per trigger, so cross-batch state
    is exercised) without its NULL event-time rows."""
    if source is None:
        source = _changelog_source(
            spark, replay_dir(sf_dir, "events", order_col="ts")
        )
    # NULL event-time contract (docs/USAGE.md): a row with no event time
    # cannot be sequenced — CEP drops it, exactly as Spark's own
    # event-time operators (window aggregation, stream-stream join) drop
    # NULL event times. Without this, NaT → int64 µs is the int64-min
    # sentinel and the fold crashes or mis-sequences.
    return source.filter(F.col("ts").isNotNull())


def _chain_stream(
    src: DataFrame, stages: tuple[str, ...], gap: str, shape: _Shape
) -> DataFrame:
    """The un-sinked chain stream: :func:`_chain_fold` per ``user_id``
    over ``src`` with ``applyInPandasWithState``."""
    return (
        # the fold touches only these four columns; value/props would
        # otherwise ride the state shuffle AND the per-trigger Arrow
        # JVM→Python transfer as dead weight (the grouped-state boundary
        # ships every input column, opaque to Catalyst's pruning)
        src.select("event_id", "ts", "user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _chain_update_fn(stages, duration_us(gap), shape),
            outputStructType=shape.out_schema,
            stateStructType=shape.state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _chain_batch(
    events: DataFrame, stages: tuple[str, ...], gap: str, shape: _Shape
) -> DataFrame:
    """Batch twin of :func:`_chain_stream`: one last-prior-qualified window
    per hop — pure column expressions, whole-stage codegen, one shuffle on
    the key. Columns ``_t{j}``/``_i{j}`` carry the chain's stage-j event."""
    # asc_nulls_last on the tie-break: the streaming fold puts NULL ids
    # last among ts ties (Spark's window default would be NULLS FIRST and
    # silently flip tie order; r10 NULL-id sweep)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gap_i = F.expr(f"INTERVAL {gap}")
    # NULL event-time contract — mirror of the streaming side's drop
    seq = events.filter(F.col("ts").isNotNull()).select(
        "user_id", "event_id", "ts", "event_type"
    )
    qual, held = F.col("event_type") == stages[0], []
    for k, stage in enumerate(stages[1:], 1):
        # the last prior qualified chain as ONE struct: an event whose
        # event_id is NULL still qualifies (the struct is non-NULL), so
        # its ts and its NULL id travel together — separate ignorenulls
        # lasts would skip the id but take the ts
        link = F.struct(
            *held, F.col("ts").alias(f"_t{k - 1}"),
            F.col("event_id").alias(f"_i{k - 1}"),
        )
        prior = F.last(F.when(qual, link), ignorenulls=True).over(w)
        held = [*held, f"_t{k - 1}", f"_i{k - 1}"]
        seq = seq.select(
            "user_id", "event_id", "ts", "event_type",
            *(prior[c].alias(c) for c in held),
        )
        qual = (
            (F.col("event_type") == stage)
            & F.col(f"_t{k - 1}").isNotNull()
            & (F.col("ts") <= F.col(f"_t{k - 1}") + gap_i)
        )
    *names, last = shape.names
    return seq.filter(qual).select(
        "user_id",
        *(F.col(f"_i{j}").alias(f"{n}_event_id") for j, n in enumerate(names)),
        F.col("event_id").alias(f"{last}_event_id"),
        *(F.col(f"_t{j}").alias(f"{n}_ts") for j, n in enumerate(names)),
        F.col("ts").alias(f"{last}_ts"),
        # NTZ-safe epoch arithmetic (r10 cold review): unix_timestamp
        # interprets NTZ as session-LOCAL wall time, which is non-linear
        # across a DST transition — a chain straddling one would report a
        # lag ±3600 s off the streaming side's pure-µs integers under a
        # DST session timezone
        (ntz_epoch_seconds("ts") - ntz_epoch_seconds("_t0"))
        .cast("long").alias(shape.lag_col),
    )


# ---- followed-by: the two-stage chain (base, trigger) ---------------------


def pattern_matches_stream(
    spark: SparkSession,
    sf_dir: str,
    base_type: str = "view",
    trigger_type: str = "click",
    gap: str = "10 minutes",
) -> DataFrame:
    """The UN-SINKED streaming match DataFrame (shared by the memory-sink
    runner and the crash-recovery tests, which drive it through their own
    checkpointed sink): for every ``trigger_type`` event, a match against
    the key's most recent prior ``base_type`` event if it happened within
    ``gap``."""
    return _chain_stream(
        _events_source(spark, sf_dir), (base_type, trigger_type), gap,
        _FOLLOWED_BY,
    )


def pattern_match_stream(
    spark: SparkSession,
    sf_dir: str,
    base_type: str = "view",
    trigger_type: str = "click",
    gap: str = "10 minutes",
) -> DataFrame:
    """Run the followed-by pattern as a REAL streaming query over the
    time-ordered replay; returns the materialized match table."""
    matches = pattern_matches_stream(
        spark, sf_dir, base_type, trigger_type, gap
    )
    return run_to_memory(spark, matches, "cep_sink")


def pattern_match_batch(
    events: DataFrame,
    base_type: str = "view",
    trigger_type: str = "click",
    gap: str = "10 minutes",
) -> DataFrame:
    """Batch twin: for each trigger event, the key's last preceding base
    event in ``(ts, event_id)`` order, kept if within ``gap``."""
    return _chain_batch(events, (base_type, trigger_type), gap, _FOLLOWED_BY)


# ---- typed-state variant with event-time timers (A22 + A17 discipline) ----

if HAS_TWS:
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class PatternTimerProcessor(StatefulProcessor):
        """The followed-by CEP on ``transformWithStateInPandas`` with the
        reference's wakeup-timeout discipline (``client/ConsumerAlgebra.
        scala:64-77``) as EVENT-TIME state expiry: every base event arms a
        timer at ``base_ts + gap``; when the watermark passes it, the timer
        fires and DELETES the key's base state.

        Expiry is semantically neutral — a trigger can only match a base
        within ``gap``, so a base whose timer fired (watermark ≥ expiry,
        hence every future on-time event is ≥ expiry) can never match again
        — but it bounds state at O(keys-with-a-live-base) instead of
        O(keys-ever-seen): exactly the reference's timeout-driven cleanup,
        and the 100 TB posture for unbounded key domains. Output equality
        with the timerless engine and the batch window formulation is the
        q57b driver entry + tests/test_cep_tws.py.

        Timer discipline (pinned in tests/test_tws_state_kinds.py): ≤1 live
        timer per key — a new base deletes the previous base's timer
        (unless already fired, i.e. its expiry ≤ current watermark) before
        arming its own; the fired-timer callback double-checks the state is
        actually due, so a stale timer racing a same-batch refresh is a
        no-op."""

        def __init__(self, base_type: str, trigger_type: str, gap_us: int):
            self._stages = (base_type, trigger_type)
            self._gap_us = gap_us

        def init(self, handle) -> None:
            self._handle = handle
            # wall micros for output/ordering + the zone offset captured
            # when the base was stored, for wall→UTC timer conversion
            self._base = handle.getValueState(
                "base", "base_event_id long, base_ts_us long, tz_off_us long"
            )

        def _expiry_ms(self, base_ts_us: int, off_us: int) -> int:
            # +1 ms, not floor: the timer clock is ms while matching is µs.
            # A floored expiry can fire with the watermark still up to
            # 999 µs BEFORE base+gap, clearing the base while a valid
            # trigger (and even an exactly-at-boundary one, since the
            # watermark keeps rows at ts == wm) can still arrive. Firing
            # 1 ms late is output-neutral — the timer only GCs state.
            return (base_ts_us - off_us + self._gap_us) // 1000 + 1

        def handleInputRows(self, key, rows, timerValues):
            prev = tuple(self._base.get()) if self._base.exists() else None
            st = prev[:2] if prev else (None, None)
            frames = [pdf for pdf in rows if not pdf.empty]
            last, match = _chain_fold(
                frames, st, self._stages, self._gap_us, _FOLLOWED_BY
            )
            if last != st:
                # NTZ wall-time micros drive matching and output; Spark's
                # timer clock is UTC epoch ms (the watermark's domain), so
                # convert through the JVM-computed per-row offset
                # (``_utc_us``, the LAST column by construction —
                # pattern_matches_stream_tws appends it and TWS's Arrow
                # transfer renames derived columns positionally). Under a
                # non-UTC session timezone wall and UTC micros differ by
                # the zone offset; registering wall-derived expiries would
                # fire timers hours early, expiring bases with gap left.
                # Take the offset of THE BASE ROW ITSELF, not the batch's
                # first row — a batch spanning a DST transition has two
                # offsets, and the wrong one skews the expiry by ±1 h.
                off_us = prev[2] if prev is not None else 0
                for f in frames:
                    wall = f["ts"].astype("int64") // 1000
                    # null-safe id match: a NULL-id base row is located by
                    # (id IS NULL, ts) — `== None` would yield an all-NA
                    # mask and never find it (r10 NULL-id sweep)
                    idm = (
                        f["event_id"].isna()
                        if last[0] is None
                        else (f["event_id"] == last[0]).fillna(False)
                    )
                    hit = idm & (wall == last[1])
                    if hit.any():
                        i = hit.idxmax()
                        off_us = int(wall.loc[i]) - int(f.iloc[:, -1].loc[i])
                        break
                self._base.update((last[0], last[1], off_us))
                wm = timerValues.getCurrentWatermarkInMs()
                if prev is not None:
                    prev_exp = self._expiry_ms(prev[1], prev[2])
                    if prev_exp > wm:
                        self._handle.deleteTimer(prev_exp)
                self._handle.registerTimer(self._expiry_ms(last[1], off_us))
            if match is not None:
                yield match

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._base.exists():
                _, base_ts_us, off_us = tuple(self._base.get())
                if self._expiry_ms(base_ts_us, off_us) <= (
                    expiredTimerInfo.getExpiryTimeInMs()
                ):
                    self._base.clear()
            return iter(())

        def close(self) -> None:
            pass


def pattern_matches_stream_tws(
    spark: SparkSession,
    sf_dir: str,
    base_type: str = "view",
    trigger_type: str = "click",
    gap: str = "10 minutes",
    source: DataFrame | None = None,
) -> DataFrame:
    """Un-sinked TWS pattern stream (see :class:`PatternTimerProcessor`).
    Event-time mode needs a watermark, and watermarks require TIMESTAMP —
    but the data contract is NTZ end-to-end, so the watermark rides a
    derived session-tz cast column (``_evt``) while ``ts`` stays NTZ for
    matching and output; ``_utc_us`` carries the cast's UTC micros so the
    processor can convert wall-time expiries into the timer clock's domain.
    The time-ordered replay's contiguous chunks make a 0-second delay
    lossless (no late rows).

    ``source`` injects any other streaming DataFrame carrying the events
    columns with an NTZ ``ts`` (e.g. the wire source's decoded stream —
    the reference's rebalance + table-materialization composition,
    ``client/RecordStream.scala:71-108`` + ``streams/Tables.scala``);
    default is the deterministic time-ordered file replay of
    ``{sf_dir}/events.parquet``."""
    _tws_prepare(spark)
    gap_us = duration_us(gap)
    src = (
        # NULL event-time contract — see _events_source (a NULL ts would
        # also yield a NULL _evt watermark column here)
        _events_source(spark, sf_dir, source)
        .withColumn("_evt", F.col("ts").cast("timestamp"))
        .withColumn("_utc_us", F.unix_micros(F.col("_evt")))
        .withWatermark("_evt", "0 seconds")
        # _utc_us LAST: the processor reads it positionally (TWS renames
        # derived columns in the Arrow transfer). value/props are pruned —
        # the processor touches neither, and the state boundary ships
        # every listed column through Arrow per trigger (guide §4).
        .select(
            "event_id", "ts", "user_id", "event_type", "_utc_us",
        )
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PatternTimerProcessor(
            base_type, trigger_type, gap_us
        ),
        outputStructType=_MATCH_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )


def pattern_match_stream_tws(
    spark: SparkSession,
    sf_dir: str,
    base_type: str = "view",
    trigger_type: str = "click",
    gap: str = "10 minutes",
    checkpoint: str | None = None,
    source: DataFrame | None = None,
) -> DataFrame:
    """Run the timer-expiring TWS pattern query to completion; returns the
    match table (must equal :func:`pattern_match_batch` — the q57 oracle).
    An explicit ``checkpoint`` is the crash-recovery path: the caller owns
    the tree and restarts from it; without one the drain's throwaway
    checkpoint is deleted after termination."""
    matches = pattern_matches_stream_tws(
        spark, sf_dir, base_type, trigger_type, gap, source=source
    )
    name = f"cep_tws_{uuid.uuid4().hex[:8]}"
    writer = (
        matches.writeStream.outputMode("append").format("memory").queryName(name)
    )
    confs = {**STREAM_PERF_CONF, **_tws_prepare(spark)}
    _drain(spark, writer, name, confs, checkpoint)
    return spark.table(name)


# ---- funnel: the three-stage chain (view, click, purchase) ----------------


def funnel_matches_stream(
    spark: SparkSession,
    sf_dir: str,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    gap: str = "12 hours",
) -> DataFrame:
    """The un-sinked 3-stage funnel stream (see
    :func:`pattern_matches_stream` for why this is split out)."""
    return _chain_stream(_events_source(spark, sf_dir), stages, gap, _FUNNEL)


def funnel_match_stream(
    spark: SparkSession,
    sf_dir: str,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    gap: str = "12 hours",
) -> DataFrame:
    """3-stage funnel detection as a stateful streaming query: for every
    final-stage event, the chain (last qualified mid-stage event, which in
    turn carries ITS last prior base event), each hop within ``gap``.
    State per key is two levels (last base; last qualified mid + its
    base) — still O(keys), bounded forever."""
    matches = funnel_matches_stream(spark, sf_dir, stages, gap)
    return run_to_memory(spark, matches, "funnel_sink")


def funnel_match_batch(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    gap: str = "12 hours",
) -> DataFrame:
    """Batch twin of :func:`funnel_match_stream`: two chained
    last-prior-qualified windows — pure column expressions."""
    return _chain_batch(events, stages, gap, _FUNNEL)
