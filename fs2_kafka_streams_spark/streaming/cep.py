"""Streaming pattern detection (CEP-lite): A-followed-by-B within a gap.

The reference exposes per-partition, order-preserving typed streams
(``client/RecordStream.scala:14-16``) precisely so consumers can run
order-sensitive logic like this; here the same contract is a keyed
stateful streaming operator: for every ``trigger_type`` event, emit a
match against the key's most recent ``base_type`` event if it happened
within ``gap`` — e.g. "click within 10 minutes of a view".

State per key is ONE row (the latest base event) — O(keys) state, never
O(events), and a key's state is overwritten on every base event, so state
size is bounded regardless of stream length. Rows are processed in
``(ts, event_id)`` order: the time-ordered replay guarantees it across
micro-batches (contiguous time chunks), and the update function sorts
within each batch — so the streaming result equals the batch
last-prior-base window formulation row for row (asserted in
tests/test_streaming_duality.py and hash-checked against the DuckDB
oracle as q57).

Match timestamps compare in exact microseconds; the emitted
``lag_seconds`` is floor(epoch-seconds) difference, matching the SQL
``floor(extract(epoch ...))`` convention used across the repo.
"""

from __future__ import annotations

import uuid

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


def _fold_pattern(
    frames: list[pd.DataFrame],
    last: tuple[int, int] | None,
    base_type: str,
    trigger_type: str,
    gap_us: int,
) -> tuple[tuple[int, int] | None, pd.DataFrame | None]:
    """Pure per-key fold shared by BOTH state APIs
    (``applyInPandasWithState`` and ``transformWithStateInPandas``):
    given the batch's frames and the carried (base_event_id, base_ts_us)
    state, return (new_state, match_frame_or_None)."""
    if not frames:
        return last, None
    pdf = frames[0] if len(frames) == 1 else pd.concat(
        frames, ignore_index=True
    )
    # Per-key hot path (r12, guide §4.2): this fold runs once per KEY per
    # micro-batch, so its constant factor multiplies by the key count —
    # plain numpy throughout (lexsort + maximum.accumulate) instead of
    # pandas Series machinery (measured 5.9× per call, byte-identical
    # output on the randomized NULL/tie/extreme-ts sweep pinned in
    # tests/test_fold_vectorized.py).
    n = len(pdf)
    ts_us = pdf["ts"].to_numpy().astype("int64") // 1000
    ids = pdf["event_id"].to_numpy()
    et = pdf["event_type"]
    is_base_u = (et == base_type).to_numpy()
    is_trig_u = (et == trigger_type).to_numpy()
    # sort by (ts, id); NULL event_ids sort LAST among ts ties (pandas'
    # na_position default) — exactly DuckDB's ASC NULLS LAST, so the
    # oracle needs no spelling
    order = np.lexsort((*_id_sort_keys(ids, nulls_first=False), ts_us))
    ts_us = ts_us[order]
    ids = ids[order]
    is_base = is_base_u[order]
    is_trig = is_trig_u[order]

    # last base event STRICTLY before each row in (ts, id) order, tracked
    # by ROW POSITION (running max of base positions, shifted one row, so
    # a type that is both base and trigger matches the PREVIOUS base —
    # the batch 1-PRECEDING frame). Position, not id: a base whose
    # event_id is NULL is still a real base (the id is payload), and an
    # id-ffill would silently attribute its matches to an OLDER base's id
    # while taking the new base's ts (r10 NULL-id sweep).
    idx = np.arange(n, dtype=np.int64)
    bpos = np.where(is_base, idx, np.int64(-1))
    np.maximum.accumulate(bpos, out=bpos)
    prior_pos = np.empty(n, dtype=np.int64)
    prior_pos[0] = -1
    prior_pos[1:] = bpos[:-1]
    have = prior_pos >= 0
    prior_ts = np.where(have, ts_us[np.where(have, prior_pos, 0)], np.int64(0))
    seed = last  # state BEFORE this batch seeds rows before its first base
    if seed is not None:
        # base_ts (never NULL after the ts filter) marks existence; the
        # seeded id may itself be genuinely NULL
        prior_ts = np.where(have, prior_ts, np.int64(seed[1]))
        valid = None  # every row has a prior base (batch or seeded)
    else:
        valid = have
    lag = ts_us - prior_ts
    hit = is_trig & (lag <= gap_us) & (lag >= 0)
    if valid is not None:
        hit &= valid

    if is_base.any():
        i = int(np.nonzero(is_base)[0][-1])
        eid = ids[i]
        last = (None if pd.isna(eid) else int(eid), int(ts_us[i]))

    match = None
    if hit.any():
        hidx = np.nonzero(hit)[0]
        pp = prior_pos[hidx]
        seeded = pp < 0
        # nullable Int64: the NULL grouping key is a legitimate group
        # (batch PARTITION BY groups NULLs together on both engines); a
        # plain int64 cast crashes on its NaN. Same for the id columns:
        # an unkeyed base/trigger emits NULL.
        base_id = pd.array(ids[np.where(seeded, 0, pp)], dtype="Int64")
        if seeded.any():
            base_id[seeded] = seed[0]
        uid = pdf["user_id"].to_numpy()[order][hidx]
        match = pd.DataFrame(
            {
                "user_id": pd.array(uid, dtype="Int64"),
                "base_event_id": base_id,
                "trigger_event_id": pd.array(ids[hidx], dtype="Int64"),
                "base_ts": pd.to_datetime(prior_ts[hidx], unit="us"),
                "trigger_ts": pd.to_datetime(ts_us[hidx], unit="us"),
                "lag_seconds": ts_us[hidx] // 1_000_000
                - prior_ts[hidx] // 1_000_000,
            }
        )
    return last, match


def _pattern_update_fn(base_type: str, trigger_type: str, gap_us: int):
    def update(key, pdf_iter, state: GroupState):
        last = tuple(state.get) if state.exists else None  # (event_id, ts_us)
        frames = [pdf for pdf in pdf_iter if not pdf.empty]
        last, match = _fold_pattern(
            frames, last, base_type, trigger_type, gap_us
        )
        if last is not None:
            state.update(last)
        if match is not None:
            yield match

    return update


def pattern_matches_stream(
    spark: SparkSession,
    sf_dir: str,
    base_type: str = "view",
    trigger_type: str = "click",
    gap: str = "10 minutes",
) -> DataFrame:
    """The UN-SINKED streaming match DataFrame (shared by the memory-sink
    runner and the crash-recovery tests, which drive it through their own
    checkpointed sink)."""
    gap_us = duration_us(gap)
    # 2 files/trigger: cross-batch state is still exercised (2 triggers
    # over the 4-file ts-ordered replay) at half the per-batch machinery
    # cost; the update fn sorts each batch by (ts, event_id) so intra-
    # trigger file order is irrelevant
    src = (
        _changelog_source(spark, replay_dir(sf_dir, "events", order_col="ts"))
        # NULL event-time contract (docs/USAGE.md): a row with no event
        # time cannot be sequenced — CEP drops it, exactly as Spark's own
        # event-time operators (window aggregation, stream-stream join)
        # drop NULL event times. Without this, NaT → int64 µs is the
        # int64-min sentinel and the fold crashes or mis-sequences.
        .filter(F.col("ts").isNotNull())
        # the fold touches only these four columns; value/props would
        # otherwise ride the state shuffle AND the per-trigger Arrow
        # JVM→Python transfer as dead weight (guide §4: pass only the
        # columns the function needs — the grouped-state boundary ships
        # every input column, opaque to Catalyst's pruning)
        .select("event_id", "ts", "user_id", "event_type")
    )
    return src.groupBy("user_id").applyInPandasWithState(
        _pattern_update_fn(base_type, trigger_type, gap_us),
        outputStructType=_MATCH_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    event in ``(ts, event_id)`` order, kept if within ``gap``. Pure window
    expressions — whole-stage codegen, one shuffle on the key."""
    # NULL event-time contract — mirror of the streaming side's drop
    events = events.filter(F.col("ts").isNotNull())
    # asc_nulls_last on the tie-break: the streaming fold's pandas sort
    # puts NaN ids last among ts ties (Spark's window default would be
    # NULLS FIRST and silently flip tie order; r10 NULL-id sweep)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # last prior base as ONE struct: a base whose event_id is NULL is
    # still a base (the struct is non-NULL), so its ts and its NULL id
    # travel together — two separate ignorenulls lasts would skip the id
    # but take the ts, attributing the match to an older base's id
    base = F.last(
        F.when(
            F.col("event_type") == base_type,
            F.struct(F.col("ts"), F.col("event_id")),
        ),
        ignorenulls=True,
    ).over(w)
    seq = events.select(
        "user_id", "event_id", "ts", "event_type",
        base["ts"].alias("base_ts"), base["event_id"].alias("base_event_id"),
    )
    return (
        seq.filter(
            (F.col("event_type") == trigger_type)
            & F.col("base_ts").isNotNull()
            & (F.col("ts") <= F.col("base_ts") + F.expr(f"INTERVAL {gap}"))
        )
        .select(
            "user_id",
            "base_event_id",
            F.col("event_id").alias("trigger_event_id"),
            "base_ts",
            F.col("ts").alias("trigger_ts"),
            # NTZ-safe epoch arithmetic (r10 cold review): unix_timestamp
            # interprets NTZ as session-LOCAL wall time, which is
            # non-linear across a DST transition — a (base, trigger) pair
            # straddling one would report a lag ±3600 s off the streaming
            # side's pure-µs integers under a DST session timezone
            (
                ntz_epoch_seconds("ts") - ntz_epoch_seconds("base_ts")
            ).cast("long").alias("lag_seconds"),
        )
    )


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
            self._base_type = base_type
            self._trigger_type = trigger_type
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
            frames = [pdf for pdf in rows if not pdf.empty]
            last, match = _fold_pattern(
                frames, prev[:2] if prev else None, self._base_type,
                self._trigger_type, self._gap_us,
            )
            if last is not None and (prev is None or last != prev[:2]):
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
    if source is None:
        source = _changelog_source(
            spark, replay_dir(sf_dir, "events", order_col="ts")
        )
    src = (
        # NULL event-time contract — see pattern_matches_stream (a NULL ts
        # would also yield a NULL _evt watermark column here)
        source.filter(F.col("ts").isNotNull())
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


# ---- 3-stage funnel (A followed-by B followed-by C, gap per hop) ----------

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


def _funnel_update_fn(stages: tuple[str, str, str], gap_us: int):
    base_t, mid_t, fin_t = stages

    def update(key, pdf_iter, state: GroupState):
        st = tuple(state.get) if state.exists else (None,) * 6
        frames = [pdf for pdf in pdf_iter if not pdf.empty]
        if not frames:
            if state.exists:
                state.update(st)
            return
        pdf = frames[0] if len(frames) == 1 else pd.concat(
            frames, ignore_index=True
        )
        # Per-key hot path — numpy throughout, POSITION-tracked priors so
        # a NULL value (unkeyed event's id) is carried faithfully, never
        # skipped-over (r10 NULL-id sweep; see _fold_pattern, which pins
        # the shared vectorization discipline + its equivalence sweep in
        # tests/test_fold_vectorized.py — measured 7× per call here).
        n = len(pdf)
        tss = pdf["ts"].to_numpy().astype("int64") // 1000
        ids = pdf["event_id"].to_numpy()
        et = pdf["event_type"]
        is_base_u = (et == base_t).to_numpy()
        is_mid_u = (et == mid_t).to_numpy()
        is_fin_u = (et == fin_t).to_numpy()
        # NULL ids sort LAST among ts ties — DuckDB's ASC NULLS LAST
        order = np.lexsort((*_id_sort_keys(ids, nulls_first=False), tss))
        tss = tss[order]
        ids = ids[order]
        is_base = is_base_u[order]
        is_mid = is_mid_u[order]
        is_fin = is_fin_u[order]

        idx = np.arange(n, dtype=np.int64)

        def prior_pos(mask):
            # position of the last STRICTLY-prior row where `mask` held
            # (-1 = none in this batch → fall back to carried state)
            p = np.where(mask, idx, np.int64(-1))
            np.maximum.accumulate(p, out=p)
            out = np.empty(n, dtype=np.int64)
            out[0] = -1
            out[1:] = p[:-1]
            return out

        # pass 1: last strictly-prior base per row (state seeds pos -1).
        # st[1]/st[3] (the ts slots, never NULL after the ts filter) mark
        # level existence — the id slots may be genuinely NULL.
        v_pos = prior_pos(is_base)
        have_v = v_pos >= 0
        v_ts = np.where(have_v, tss[np.where(have_v, v_pos, 0)], np.int64(0))
        if st[1] is not None:
            v_ts = np.where(have_v, v_ts, np.int64(st[1]))
            valid_v = None
        else:
            valid_v = have_v
        # qualified mid: a mid-event whose own prior base is within gap
        q_mid = is_mid & (tss - v_ts <= gap_us)
        if valid_v is not None:
            q_mid &= valid_v

        # pass 2: last strictly-prior QUALIFIED mid (positions carry its
        # base refs — resolved only at hit rows / the state roll-forward)
        c_pos = prior_pos(q_mid)
        have_c = c_pos >= 0
        c_ts = np.where(have_c, tss[np.where(have_c, c_pos, 0)], np.int64(0))
        if st[3] is not None:
            c_ts = np.where(have_c, c_ts, np.int64(st[3]))
            valid_c = None
        else:
            valid_c = have_c
        hit = is_fin & (tss - c_ts <= gap_us)
        if valid_c is not None:
            hit &= valid_c

        def opt(v):
            return None if pd.isna(v) else int(v)

        # roll state forward: last base; last qualified mid (+ its base)
        new = list(st)
        if is_base.any():
            i = int(np.nonzero(is_base)[0][-1])
            new[0], new[1] = opt(ids[i]), int(tss[i])
        if q_mid.any():
            j = int(np.nonzero(q_mid)[0][-1])
            new[2], new[3] = opt(ids[j]), int(tss[j])
            if v_pos[j] >= 0:
                new[4], new[5] = opt(ids[v_pos[j]]), int(tss[v_pos[j]])
            else:  # that mid was qualified by the carried level-1 state
                new[4], new[5] = st[0], st[1]
        if any(x is not None for x in new):
            state.update(tuple(new))

        if hit.any():
            h = np.nonzero(hit)[0]
            cp = c_pos[h]
            from_state_c = cp < 0  # mid (and its base) from level-2 state
            cp0 = np.where(from_state_c, 0, cp)
            # nullable Int64 — NULL grouping key / unkeyed ids, see
            # _fold_pattern
            c_id_arr = pd.array(ids[cp0], dtype="Int64")
            c_ts_arr = tss[cp0].copy()
            # base refs carried by that mid: its own prior base in this
            # batch, else the level-1 state that qualified it
            vp = v_pos[cp0]
            from_state_v = vp < 0
            vp0 = np.where(from_state_v, 0, vp)
            v_id_arr = pd.array(ids[vp0], dtype="Int64")
            v_ts_arr = tss[vp0].copy()
            seed_v = ~from_state_c & from_state_v
            if seed_v.any():
                v_id_arr[seed_v] = st[0]
                v_ts_arr[seed_v] = st[1]
            if from_state_c.any():
                c_id_arr[from_state_c] = st[2]
                c_ts_arr[from_state_c] = st[3]
                v_id_arr[from_state_c] = st[4]
                v_ts_arr[from_state_c] = st[5]
            uid = pdf["user_id"].to_numpy()[order][h]
            yield pd.DataFrame(
                {
                    "user_id": pd.array(uid, dtype="Int64"),
                    "view_event_id": v_id_arr,
                    "click_event_id": c_id_arr,
                    "purchase_event_id": pd.array(ids[h], dtype="Int64"),
                    "view_ts": pd.to_datetime(v_ts_arr, unit="us"),
                    "click_ts": pd.to_datetime(c_ts_arr, unit="us"),
                    "purchase_ts": pd.to_datetime(tss[h], unit="us"),
                    "total_lag_seconds": tss[h] // 1_000_000
                    - v_ts_arr // 1_000_000,
                }
            )

    return update


def funnel_matches_stream(
    spark: SparkSession,
    sf_dir: str,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    gap: str = "12 hours",
) -> DataFrame:
    """The un-sinked 3-stage funnel stream (see
    :func:`pattern_matches_stream` for why this is split out)."""
    gap_us = duration_us(gap)
    # 2 files/trigger — same rationale as pattern_matches_stream
    src = (
        _changelog_source(spark, replay_dir(sf_dir, "events", order_col="ts"))
        # NULL event-time contract — see pattern_matches_stream
        .filter(F.col("ts").isNotNull())
        # column pruning through the opaque state boundary — see
        # pattern_matches_stream (the fold reads only these four)
        .select("event_id", "ts", "user_id", "event_type")
    )
    return src.groupBy("user_id").applyInPandasWithState(
        _funnel_update_fn(stages, gap_us),
        outputStructType=_FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def funnel_match_stream(
    spark: SparkSession,
    sf_dir: str,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    gap: str = "12 hours",
) -> DataFrame:
    """3-stage funnel detection as a stateful streaming query: for every
    final-stage event, the chain (last qualified mid-stage event, which in
    turn carries ITS last prior base event), each hop within ``gap``.
    State per key is two rows (last base; last qualified mid + base refs)
    — still O(keys), bounded forever."""
    matches = funnel_matches_stream(spark, sf_dir, stages, gap)
    return run_to_memory(spark, matches, "funnel_sink")


def funnel_match_batch(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    gap: str = "12 hours",
) -> DataFrame:
    """Batch twin of :func:`funnel_match_stream`: two chained
    last-prior-qualified windows — pure column expressions."""
    # NULL event-time contract — mirror of the streaming side's drop
    events = events.filter(F.col("ts").isNotNull())
    base_t, mid_t, fin_t = stages
    w = (
        Window.partitionBy("user_id")
        # asc_nulls_last + struct carry — see pattern_match_batch
        .orderBy(F.col("ts"), F.col("event_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def lastq(col, cond):
        return F.last(F.when(cond, col), ignorenulls=True).over(w)

    is_base = F.col("event_type") == base_t
    v = lastq(F.struct(F.col("ts"), F.col("event_id")), is_base)
    s1 = events.select(
        "user_id", "event_id", "ts", "event_type",
        v["ts"].alias("v_ts"), v["event_id"].alias("v_id"),
    )
    gap_i = F.expr(f"INTERVAL {gap}")
    q_mid = (
        (F.col("event_type") == mid_t)
        & F.col("v_ts").isNotNull()
        & (F.col("ts") <= F.col("v_ts") + gap_i)
    )
    c = lastq(
        F.struct(
            F.col("ts"), F.col("event_id"),
            F.col("v_ts"), F.col("v_id"),
        ),
        q_mid,
    )
    s2 = s1.select(
        "user_id", "event_id", "ts", "event_type",
        c["ts"].alias("c_ts"),
        c["event_id"].alias("c_id"),
        c["v_ts"].alias("cv_ts"),
        c["v_id"].alias("cv_id"),
    )
    return (
        s2.filter(
            (F.col("event_type") == fin_t)
            & F.col("c_ts").isNotNull()
            & (F.col("ts") <= F.col("c_ts") + gap_i)
        )
        .select(
            "user_id",
            F.col("cv_id").alias("view_event_id"),
            F.col("c_id").alias("click_event_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("cv_ts").alias("view_ts"),
            F.col("c_ts").alias("click_ts"),
            F.col("ts").alias("purchase_ts"),
            # NTZ-safe, like pattern_match_batch's lag_seconds (r10 review)
            (
                ntz_epoch_seconds("ts") - ntz_epoch_seconds("cv_ts")
            ).cast("long").alias("total_lag_seconds"),
        )
    )
