#!/usr/bin/env python
"""Bench harness — wall-clock per declared query (SURVEY.md §2 Part B).

Runs every query in the driver registry against ``$SPARK_GRAFT_SF_DIR``
(default ``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``.

The LAST stdout line is ONE compact JSON line (guaranteed < ~1.5 KB — the
driver keeps only a 2 KB stdout tail, which truncated the full per-query
map in round 1)::

    {"metric": "...", "value": N, "unit": "sec", "sf": ..., "n_queries": K,
     "queries": {...10 slowest...}}

The FULL per-query timing map is written to ``BENCH_FULL.json`` next to
this script.

``python bench.py NAME... [-n REPS]`` times only the named entries (same
session, warm-up and per-run cleanup as the full run, ``REPS`` runs each,
default 3) and prints one ``name: median=… reps=[…] tick=…
add_batch_ms=[…]`` line per entry; it writes no ``BENCH_FULL*.json``.
``scripts/ab_minloop.py`` runs its A/B arms through this mode.

Execution is forced with the noop sink (full plan runs distributed; nothing
is materialized on the driver), which is the scale-honest way to time a
query — ``collect()`` would add a driver bottleneck that doesn't exist in
the 100 TB deployment shape.

Measurement policy (round 7): entries slower than 4 s are re-run twice
back-to-back (in place, preserving the batch-before-streaming order) and
report the MEDIAN — single-shot numbers on expensive entries carry a 2-6 s
first-run component a long-running cluster amortizes away (SCALE.md "Bench
noise floor"). The artifact records every rep, the per-entry pinned confs,
the session posture, and whether the streaming warm-up engaged — so the
driver-run number of record carries its own measurement-conditions proof.

Round 8 adds PER-ENTRY noise certification: a 10×-cheaper calibration tick
runs between every entry (``calib_trace``), entries bracketed by a hot
tick (>1.6× the run's MEDIAN tick — in-run spikes/ramps) are flagged
``noisy``, and a run-level ``host_loaded`` flag (both 200M probes above
the SCALE.md quiet band) marks totals measured under uniform external load
— r7's mid-run host-load ramp inflated batch entries invisibly; now the
inflation is attributable per entry. The summary line also carries the
streaming-family subtotal (``stream_sec``) so the r7 streaming win
(54.3 → 45.8 s) stays visible at a glance.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path
from statistics import median as _median

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    # appended, not inserted: a caller that already put another tree's
    # package first (scripts/ab_minloop.py's arms) times that tree
    sys.path.append(_REPO)

#: Row counts of the CPU probe: the run-bracketing probe, and its 10×
#: cheaper per-entry tick.
CALIB_ROWS = 200_000_000
TICK_ROWS = 20_000_000

#: Quiet-host wall-time band for the 200M-row calibrate() probe, measured
#: in SCALE.md "Bench noise floor" (5 back-to-back quiet-window runs read
#: 0.23-0.27 s). The driver machine is fixed for every round, so the band
#: is a stable absolute reference: a run whose bracketing probes BOTH sit
#: well above it was measured under external host load end-to-end — the
#: case per-entry (run-relative) flags structurally cannot see.
HOST_QUIET_BAND_200M = (0.23, 0.27)

#: Quiet-host band for the small-file write+fsync probe (ms/op), measured
#: in SCALE.md: certified-quiet windows read io_calib medians 0.46-0.56,
#: degraded windows ≥ 0.99. The r10 driver run sat at 0.647 — above every
#: quiet reading but below every per-entry relative-flag threshold, so
#: q48's +30% regression rode through UNFLAGGED (r10 verdict "What's
#: wrong #1"). The band top is the absolute line the run-gated uniform-
#: elevation flag below measures against.
IO_QUIET_BAND_MS = (0.40, 0.60)


def noise_flags(
    names: list[str],
    calib_trace: list[float],
    abs_floor: float = 0.05,
    quiet_band_top: float | None = None,
) -> tuple[dict[str, list[float]], float]:
    """Per-entry noise flags from the inter-entry calibration ticks.

    Entry i is bracketed by ``calib_trace[i]`` (just before) and
    ``calib_trace[i+1]`` (just after); a bracketing tick reading hot marks
    the entry ``noisy`` — its timing was taken while the host was busy, so
    a cross-round reader attributes an apparent regression to the host,
    not the code. "Hot" is measured against the run's MEDIAN tick (>1.6×
    and >50 ms over it): the median is the run's typical host throughput,
    so the flag isolates in-run spikes/ramps (r7's q44b case — reps rising
    5.9→10.9 s while the run-bracketing probes still read quiet-ish). The
    r8 lesson is why it is NOT the minimum tick: one lucky-fast tick under
    a uniformly loaded host dragged a min-based floor low enough to flag
    56/83 entries, destroying the flag's discrimination; uniform load is
    the run-level ``host_loaded`` flag's job, not this one's.

    ``abs_floor`` is the absolute-jitter guard in the TRACE'S OWN UNIT:
    0.05 s for the CPU tick trace (seconds), but the IO trace is in
    ms/op, where 0.05 would let sub-millisecond fsync jitter flag
    entries — callers pass a floor scaled to their unit (r9, per the
    round-8 advisory).

    ``quiet_band_top`` (r11, per the r10 verdict's q48 finding) closes
    the uniform-elevation gap the median-relative rule structurally
    cannot see: a run whose WHOLE trace sits moderately above the quiet
    band (r10 driver: io_med 0.647 vs the 0.46-0.56 quiet readings) has
    a median that rises WITH the load, so no bracket ever clears
    1.6×median — q48 regressed +30% and rode through unflagged. When the
    run's own median exceeds the band top, any entry whose BOTH brackets
    sit above the band top self-flags with its bracket values. The gate
    on the run median keeps quiet-run discrimination intact (measured on
    the r10 quiet artifact: 3/83 entries have both brackets > 0.60 at a
    0.46 median — zero flagged, because the run gate is closed).

    Returns ``(noisy, median_tick)``.
    """
    mid = _median(calib_trace)
    elevated_run = quiet_band_top is not None and mid > quiet_band_top

    def _hot(t: float) -> bool:
        return t > max(1.6 * mid, mid + abs_floor)

    noisy: dict[str, list[float]] = {}
    for i, name in enumerate(names):
        before, after = calib_trace[i], calib_trace[i + 1]
        if (
            _hot(before)
            or _hot(after)
            or (elevated_run and min(before, after) > quiet_band_top)
        ):
            noisy[name] = [before, after]
    return noisy, mid


def flag_names(
    flags: dict[str, list[float]], mid: float, cap: int = 12
) -> list[str]:
    """Flagged-entry NAMES for the driver-visible summary line, hottest
    bracket first so the size cap drops the least-inflated entries. r8's
    summary carried only ``noisy_n``/``noisy_io_n`` counts, leaving
    "WHICH entries were measured hot" answerable only from the local
    artifact — the names must ride the summary JSON (the driver keeps
    only a 2 KB stdout tail, hence the cap + ``+N`` overflow marker)."""
    ranked = sorted(
        flags.items(),
        key=lambda kv: max(kv[1]) / mid if mid else 0.0,
        reverse=True,
    )
    names = [n for n, _ in ranked[:cap]]
    if len(ranked) > cap:
        names.append(f"+{len(ranked) - cap}")
    return names


def cpu_probe(spark, rows: int) -> float:
    """Fixed CPU-bound probe (``rows`` xxhash64 in whole-stage codegen, no
    IO, no Python workers): its wall time measures HOST throughput at this
    moment, nothing about this repo. Whole-run totals drift ~1.5× with
    host load over hours (SCALE.md "Bench noise"); the :data:`CALIB_ROWS`
    probe before AND after the query loop gives every BENCH file its own
    drift denominator — compare totals across rounds as
    ``value / mean(calib_sec)``, not raw. The :data:`TICK_ROWS` tick is
    cheap enough to run between EVERY entry: r7's mid-run load ramp
    inflated individual batch entries while both end probes could still
    read quiet-ish, so the tick trace turns host noise into a per-entry,
    in-artifact fact (an entry bracketed by hot ticks is flagged
    ``noisy``) instead of a silent regression."""
    t0 = time.perf_counter()
    # bit_xor, not sum: the session is ANSI and 200M hash sums overflow
    spark.range(0, rows, 1, 32).selectExpr(
        "xxhash64(id) AS h"
    ).selectExpr("bit_xor(h)").collect()
    return round(time.perf_counter() - t0, 4)


def fsync_probe(n_files: int) -> float:
    """Small-file write+fsync latency in ms/op (n × 4 KB): the axis the
    CPU probe cannot see. Streaming entries are dominated by
    per-micro-batch checkpoint commits — many small fsyncs — so a
    streaming-family swing with quiet CPU probes is attributable to host
    IO iff this probe moved (r8 observation: streaming family 66→78 s
    across two runs whose CPU probes both read quiet). 50 files bracket
    the run; the 10-file per-entry tick attributes ONE inflated streaming
    entry, since fsync latency is burstier than CPU throughput."""
    d = tempfile.mkdtemp(prefix="bench_io_calib_")
    t0 = time.perf_counter()
    for i in range(n_files):
        fd = os.open(os.path.join(d, f"f{i}"), os.O_CREAT | os.O_WRONLY)
        os.write(fd, b"x" * 4096)
        os.fsync(fd)
        os.close(fd)
    dt = (time.perf_counter() - t0) / n_files * 1000
    shutil.rmtree(d, ignore_errors=True)
    return round(dt, 3)


def loadavg1() -> float:
    """The host's 1-minute load average."""
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM + parquet footer caches AND the Python UDF worker pool
    outside the timed region so per-query numbers reflect steady-state
    execution, not session startup (workers are reused across queries, so
    the first pandas/udtf entry would otherwise absorb interpreter
    spin-up that a long-running cluster amortizes away)."""
    from pyspark.sql import functions as F

    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    identity = F.pandas_udf(lambda s: s, "long")
    spark.range(64).select(identity("id").alias("x")).write.format(
        "noop"
    ).mode("overwrite").save()


def warm_streaming(spark) -> dict:
    """Warm the STREAMING machinery — RocksDB provider JNI + state-store
    maintenance threads, the micro-batch engine, and (when the TWS gate
    is open) the transformWithState state server + the protobuf shim
    import in fresh workers. Measured: the first streaming entry
    otherwise absorbs 3-8 s of one-time spin-up (q38b cold 12.9 s vs
    warm 5 s) that a long-running cluster pays once per deployment, not
    once per query. The full run calls it BETWEEN the batch block and the
    streaming block — streaming entries are already ordered last
    precisely because their session residue (maintenance threads, GC
    pressure) inflates whatever runs after them, so the warm-up must not
    run before the batch measurements either. A 4-row synthetic events
    table keeps it cheap; failures are non-fatal (the bench then just
    measures cold, as before).

    Returns per-stage flags: a failure in one warm-up stage must not
    misreport the stages that DID complete (q38/q38b warmed but q48/q72
    cold, or vice versa, are different measurement conditions)."""
    warm_ok = {"stateful": False, "tws": False, "join": False, "error": None}
    try:
        import pandas as pd

        # FIXED name, not mkdtemp: the replay cache is keyed by this
        # directory's basename, so a random name deposited one
        # never-reusable cache dir per bench run; a stable name is
        # rebuilt in place and the warm dir itself never accumulates
        warm_sf = os.path.join(
            tempfile.gettempdir(), "spark_graft_bench_warm_sf"
        )
        os.makedirs(warm_sf, exist_ok=True)
        # written atomically below (tmp + os.replace) so an unlikely
        # concurrent bench run never reads a half-written fixture —
        # though overlapping bench runs skew each other's timings and
        # are not a supported measurement anyway
        pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4],
                "ts": pd.to_datetime([1, 2, 3, 4], unit="s").astype(
                    "datetime64[us]"
                ),
                "user_id": [1, 1, 2, 2],
                "event_type": ["view"] * 4,
                "value": [1.0] * 4,
                "props": ["{}"] * 4,
            }
        ).to_parquet(f"{warm_sf}/.events.tmp.parquet", index=False)
        os.replace(
            f"{warm_sf}/.events.tmp.parquet", f"{warm_sf}/events.parquet"
        )
        from fs2_kafka_streams_spark.streaming import stateful as st

        st.latest_by_key_streaming(spark, warm_sf).collect()
        warm_ok["stateful"] = True
        if st.HAS_TWS:
            st.latest_by_key_tws(spark, warm_sf).collect()
            warm_ok["tws"] = True
        # Also spin the SQL-native stream-stream join machinery
        # (SymmetricHashJoin state manager + its per-store layout) —
        # q48/q72 are the two most expensive streaming entries and the
        # Python-stateful warm-ups above never touch their code path.
        from fs2_kafka_streams_spark.queries import streaming_ext as sx

        sx._stream_stream_join(
            spark, warm_sf, watermark="10 minutes"
        ).collect()
        warm_ok["join"] = True
    except Exception as e:  # pragma: no cover - must never fail the bench
        warm_ok["error"] = str(e)[:200]
        print(f"streaming warm-up skipped: {e}", file=sys.stderr)
    return warm_ok


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def run_entry(
    spark, spec, sf_dir: str
) -> tuple[float, dict[str, str], list[dict]]:
    """One timed execution of an entry (plan build + noop write).

    Returns the wall seconds, the union of every conf map the run pinned
    via ``pinned_conf`` — the artifact's per-entry proof of which
    streaming confs were live — and the ``streaming/run.py::RUN_TRACE``
    records of the streaming queries it drained (trigger count and
    per-trigger durations), in run order."""
    from fs2_kafka_streams_spark.streaming import conf as sconf
    from fs2_kafka_streams_spark.streaming import run as srun

    pin_start = sconf.PIN_SEQ  # monotonic: survives PIN_TRACE trimming
    run_start = srun.RUN_SEQ
    views_before = _temp_views(spark)
    t0 = time.perf_counter()
    df = spec.build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.perf_counter() - t0, 3)
    # drop persisted intermediates (shared shingle/pair tables) so no
    # run's cache residue distorts the next measurement
    spark.catalog.clearCache()
    # drop memory-sink tables the run registered: with median re-runs
    # each streaming rep would otherwise pin another full sink table in
    # driver memory for the rest of the bench (clearCache does not
    # touch memory sinks), inflating later entries with GC residue
    for name in _temp_views(spark) - views_before:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    n_new = min(sconf.PIN_SEQ - pin_start, len(sconf.PIN_TRACE))
    pinned: dict[str, str] = {}
    for m in sconf.PIN_TRACE[-n_new:] if n_new > 0 else []:
        pinned.update(m)
    n_runs = min(srun.RUN_SEQ - run_start, len(srun.RUN_TRACE))
    runs = list(srun.RUN_TRACE[-n_runs:]) if n_runs > 0 else []
    return dt, pinned, runs


def time_named(
    spark, registry, names: list[str], reps: int, sf_dir: str
) -> None:
    """Subset mode: ``reps`` timed runs of each named entry, one
    ``name: median=… reps=[…] tick=… add_batch_ms=[…]`` line each
    (``tick`` is the CPU tick read right after the entry;
    ``add_batch_ms`` holds the ``addBatch`` wall ms of every trigger the
    reps drained, empty for a batch entry)."""
    import fs2_kafka_streams_spark as pkg

    # which tree's package is being timed (the A/B arms record it)
    print(f"package: {Path(pkg.__file__).resolve().parent}", flush=True)
    if any("streaming" in registry[n].tags for n in names):
        warm_streaming(spark)
    cpu_probe(spark, TICK_ROWS)  # untimed: absorb the tick's codegen JIT
    for name in names:
        spec = registry[name]
        runs = [run_entry(spark, spec, sf_dir) for _ in range(reps)]
        ts = [dt for dt, _, _ in runs]
        add_ms = [
            t["durationMs"].get("addBatch")
            for _, _, queries in runs
            for q in queries
            for t in q["triggers"] or []
        ]
        print(
            f"{name}: median={round(_median(ts), 3)} reps={ts} "
            f"tick={cpu_probe(spark, TICK_ROWS)} "
            f"add_batch_ms={[ms for ms in add_ms if ms is not None]}",
            flush=True,
        )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    reps = 3
    if "-n" in args:
        i = args.index("-n")
        reps = int(args[i + 1])
        del args[i : i + 2]

    from fs2_kafka_streams_spark.queries import driver_registry
    from fs2_kafka_streams_spark.session import get_spark

    spark = get_spark(app_name="bench")
    registry = driver_registry()
    warm_session(spark, sf_dir)
    if args:
        time_named(spark, registry, args, reps, sf_dir)
        return

    cpu_probe(spark, CALIB_ROWS)  # untimed: absorb the probe's codegen JIT
    cpu_probe(spark, TICK_ROWS)  # same for the tick's plan shape
    calib_before = cpu_probe(spark, CALIB_ROWS)
    io_before = fsync_probe(50)

    # Measure real Structured Streaming entries LAST: their micro-batch
    # machinery leaves session residue (RocksDB state-store maintenance,
    # checkpoint cleanup, GC pressure) that measurably inflates whatever
    # runs right after them (observed: the broadcast-join entries doubling
    # when measured directly after the streaming block). Iteration order
    # here is a measurement concern only — the driver's correctness order
    # (`driver_registry()`) is unchanged.
    ordered = sorted(
        registry.items(), key=lambda kv: "streaming" in kv[1].tags
    )

    # Entries above the threshold get two immediate warm re-runs and report
    # the MEDIAN — single-shot numbers on expensive entries carry a 2-6 s
    # first-run component (broadcast build, state-store open; measured in
    # SCALE.md "Bench noise floor") that a long-running cluster amortizes
    # away. Re-runs happen IN PLACE in the measurement order, so the
    # batch-before-streaming residue discipline is preserved. A global
    # budget caps the extra wall-clock the re-runs may add.
    RERUN_THRESHOLD_SEC = 4.0
    RERUN_REPS = 3
    # SOFT budget: checked before launching a rep, so the last rep may
    # overshoot by its own duration — recorded as spent_sec either way
    RERUN_BUDGET_SEC = 150.0
    rerun_spent = 0.0

    timings: dict[str, float] = {}
    reps_map: dict[str, list[float]] = {}
    pinned_map: dict[str, dict[str, str]] = {}
    # per-entry micro-batch counts and per-trigger durations (first rep
    # only — the canonical execution): the streaming family's fsync volume
    # is ∝ triggers × state partitions, so a trigger-count change between
    # rounds must be an in-artifact fact, not an inference (VERDICT r8 #6)
    triggers_map: dict[str, list[int]] = {}
    trigger_ms_map: dict[str, list[list[dict]]] = {}
    stream_names: set[str] = set()
    calib_trace: list[float] = [cpu_probe(spark, TICK_ROWS)]
    io_trace: list[float] = [fsync_probe(10)]
    warm_ok: dict | None = None
    for name, spec in ordered:
        if "streaming" in spec.tags:
            stream_names.add(name)
            if warm_ok is None:
                # batch block done; spin up streaming machinery
                warm_ok = warm_streaming(spark)
        dt, pinned, runs = run_entry(spark, spec, sf_dir)
        if runs:
            triggers_map[name] = [r["n_triggers"] for r in runs]
            trigger_ms_map[name] = [r.get("triggers") for r in runs]
        reps = [dt]
        while (
            dt >= RERUN_THRESHOLD_SEC
            and len(reps) < RERUN_REPS
            and rerun_spent < RERUN_BUDGET_SEC
        ):
            extra, rep_pins, _runs = run_entry(spark, spec, sf_dir)
            reps.append(extra)
            rerun_spent += extra
            # the artifact documents pinned_conf as the per-entry UNION
            pinned.update(rep_pins)
        timings[name] = round(_median(reps), 3)
        if len(reps) > 1:
            reps_map[name] = reps
        if pinned:
            pinned_map[name] = pinned
        calib_trace.append(cpu_probe(spark, TICK_ROWS))
        io_trace.append(fsync_probe(10))

    calib_after = cpu_probe(spark, CALIB_ROWS)
    io_after = fsync_probe(50)

    names = [name for name, _spec in ordered]
    noisy, calib_median = noise_flags(names, calib_trace)
    # IO trace is in ms/op (CPU trace is in seconds): pass an absolute
    # floor scaled to the unit, else sub-millisecond fsync jitter over a
    # fast median spuriously flags entries (r8 advisory)
    noisy_io, io_median = noise_flags(
        names,
        io_trace,
        abs_floor=0.25,
        # run-gated absolute flag (r11): under an elevated-IO run the
        # median-relative rule is blind to uniform elevation — q48's r10
        # +30% driver reading carried no flag at io_med 0.647
        quiet_band_top=IO_QUIET_BAND_MS[1],
    )
    # run-level IO twin of host_loaded: the whole run was measured above
    # the SCALE.md-certified quiet fsync band — streaming-family totals
    # are host-IO-inflated, not code regressions
    io_loaded = io_median > IO_QUIET_BAND_MS[1]
    quiet = min(calib_trace)
    # run-LEVEL load flag: per-entry flags are relative to the run's own
    # median, so a UNIFORMLY loaded run (external co-tenant pinning the
    # host for the whole window — the r8 observation: every tick 0.10-0.15
    # vs the 0.23-0.27 s 200M quiet band scaled) flags nothing per-entry;
    # the bracketing 200M probes against the SCALE.md-measured quiet band
    # catch that case and mark the whole TOTAL as host-inflated.
    host_loaded = (
        min(calib_before, calib_after) > HOST_QUIET_BAND_200M[1] * 1.3
    )
    stream_family_sec = round(
        sum(t for n, t in timings.items() if n in stream_names), 3
    )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    def _conf(key: str) -> str | None:
        try:
            return spark.conf.get(key)
        except Exception:
            return None

    full = {
        "metric": "total_wall_clock_all_queries",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "calib_sec": [calib_before, calib_after],
        # small-file write+fsync latency (ms/op) bracketing the run: the
        # IO axis streaming checkpoints depend on and the CPU probe misses
        "io_calib_ms": [io_before, io_after],
        # per-entry IO ticks (ms/op) + median-relative flags, same scheme
        # as the CPU trace — fsync latency is bursty, so these attribute
        # a single inflated streaming entry
        "io_trace_ms": io_trace,
        "io_median_ms": io_median,
        "io_loaded": io_loaded,
        "io_quiet_band_ms": list(IO_QUIET_BAND_MS),
        "noisy_io": noisy_io,
        # cheap per-entry host-throughput probe: calib_trace[i] ran just
        # before entry i (trace[i+1] just after); entries bracketed by a
        # hot tick are listed in `noisy` with their [before, after] ticks
        "calib_trace": calib_trace,
        "calib_quiet": quiet,
        "calib_median": calib_median,
        # run-level: both 200M probes above 1.3× the SCALE.md quiet band →
        # the WHOLE run (and its total) was measured under external host
        # load; per-entry flags only see spikes relative to the run itself
        "host_loaded": host_loaded,
        "host_quiet_band_200m": list(HOST_QUIET_BAND_200M),
        "noisy": noisy,
        "stream_family_sec": stream_family_sec,
        # value = sum of per-entry numbers; entries slower than the
        # threshold report the median of `reps` back-to-back runs (warm
        # steady state), everything else is single-shot. budget_sec is
        # SOFT (checked before a rep launches, so the final rep may
        # overshoot it); actual extra wall-clock is spent_sec.
        "rerun_policy": {
            "threshold_sec": RERUN_THRESHOLD_SEC,
            "reps": RERUN_REPS,
            "budget_sec": RERUN_BUDGET_SEC,
            "budget_is_soft": True,
            "spent_sec": round(rerun_spent, 3),
        },
        "warm_streaming": warm_ok,
        # session-level posture the numbers were measured under — the
        # artifact carries its own proof of which knobs were live
        "session_conf": {
            k: _conf(k)
            for k in (
                "spark.sql.streaming.stateStore.providerClass",
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.execution.arrow.pyspark.enabled",
            )
        },
        "queries": timings,
        "reps": reps_map,
        # per-entry union of confs pinned (scoped) during the run — e.g.
        # RocksDB changelog checkpointing on streaming entries
        "pinned_conf": pinned_map,
        # per-entry executed micro-batch counts (first rep; one element
        # per streaming query the entry ran): trigger-count changes are
        # cross-round-visible facts, and fsync volume ∝ triggers
        "n_triggers": triggers_map,
        # per-entry, per-query, per-trigger records (first rep): the
        # durationMs phases (wall ms) and the state-store commit time
        # summed over store instances (a task sum, not wall time)
        "trigger_durations": trigger_ms_map,
    }
    (Path(_REPO) / "BENCH_FULL.json").write_text(json.dumps(full, indent=1))
    # Per-cpu-count twin (r11 verdict "What's wrong #4"): the driver runs
    # the bench at a second, lower core count and BENCH_FULL.json is
    # overwritten by whichever run finishes last — which lost the 32-core
    # per-entry map in r11. A suffixed copy preserves every core count's
    # full artifact; the summary-line contract is untouched.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    (Path(_REPO) / f"BENCH_FULL_c{cpus}.json").write_text(
        json.dumps(full, indent=1)
    )

    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:8]
    )

    # Compact summary as the LAST stdout line, < ~2 KB: the driver keeps
    # only a 2000-char stdout tail (round-1 full map got truncated to
    # "parsed": null).
    print(
        json.dumps(
            {
                "metric": "total_wall_clock_all_queries",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "calib_sec": [calib_before, calib_after],
                "policy": f"median-of-{RERUN_REPS} over {RERUN_THRESHOLD_SEC}s",
                "warm": bool(
                    warm_ok and warm_ok["stateful"] and warm_ok["join"]
                ),
                "noisy_n": len(noisy),
                "noisy_io_n": len(noisy_io),
                # flagged-entry NAMES (hottest first, capped), so the
                # driver artifact answers "which entries were hot"
                # without the local BENCH_FULL.json
                "noisy_names": flag_names(noisy, calib_median),
                "noisy_io_names": flag_names(noisy_io, io_median),
                "io_med_ms": io_median,
                "host_loaded": host_loaded,
                "io_loaded": io_loaded,
                "io_ms": [io_before, io_after],
                "stream_sec": stream_family_sec,
                "queries": slowest,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
