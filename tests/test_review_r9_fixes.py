"""Pins for round-9 review fixes.

Covers (a) the three round-8 advisory items (scd reserved name, bucket
expression quoting, bench IO-noise floor) and (b) findings from the r9
cold-file review campaign (queries/windows.py, catalog.py,
streaming/watermark.py, streaming/replay.py, and the DuckDB oracle halves
of queries/relational.py and of the multi-operator entries).
"""

from __future__ import annotations

import pandas as pd
import pytest


# ---------------------------------------------------------------------------
# r8 advisory #1 — scd.py bucketed plan reserves '_vt_local' too
# ---------------------------------------------------------------------------


def test_scd_bucketed_reserves_vt_local(spark):
    """The bucketed plan's withColumn('_vt_local', ...) silently REPLACED a
    user column of that name (lead() values emitted in place of the user's
    data) instead of raising like '_b' did. Now both reserved names raise
    at the API boundary."""
    from fs2_kafka_streams_spark.operators.scd import changelog_history

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 2],
                "ord": [10.0, 20.0, 15.0],
                "_vt_local": ["a", "b", "c"],
            }
        )
    )
    with pytest.raises(ValueError, match="_vt_local"):
        changelog_history(
            df, ["k"], "ord", value_cols=["_vt_local"], order_bucket=10
        )
    # the unbucketed plan never materializes '_vt_local' and keeps working
    out = changelog_history(df, ["k"], "ord", value_cols=["_vt_local"])
    assert out.count() == 3
    assert "_vt_local" in out.columns


# ---------------------------------------------------------------------------
# r8 advisory #2 — buckets.py quotes the column name in the expr text
# ---------------------------------------------------------------------------


def test_time_bucket_non_identifier_column(spark):
    """time_bucket_expr interpolated the raw column name into SQL text; a
    name with a space/dot/hyphen broke parsing or misbound as a
    struct-field reference. Backtick-quoted now — the bucketed SCD2 plan
    works on a changelog whose order column is named 'event time'."""
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.functions.buckets import time_bucket_expr
    from fs2_kafka_streams_spark.operators.scd import changelog_history

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 2],
            "event time": pd.to_datetime(
                [100, 4000, 8000, 200], unit="s"
            ).astype("datetime64[us]"),
            "v": ["a", "b", "c", "d"],
        }
    )
    df = spark.createDataFrame(pdf)
    expr = time_bucket_expr(
        df.schema["event time"].dataType, "1 hour", "event time"
    )
    got = [
        r["b"]
        for r in df.select(expr.alias("b"))
        .orderBy(F.col("`event time`"))
        .collect()
    ]
    assert got == [0, 0, 1, 2]

    plain = changelog_history(df, ["k"], "event time").orderBy(
        "k", "valid_from"
    )
    bucketed = changelog_history(
        df, ["k"], "event time", order_bucket="1 hour"
    ).orderBy("k", "valid_from")
    assert [tuple(r) for r in plain.collect()] == [
        tuple(r) for r in bucketed.collect()
    ]


def test_time_bucket_dotted_column(spark):
    """A dotted name previously misbound as a struct-field reference."""
    from fs2_kafka_streams_spark.functions.buckets import time_bucket_expr

    pdf = pd.DataFrame(
        {
            "t.s": pd.to_datetime([10, 7200], unit="s").astype(
                "datetime64[us]"
            )
        }
    )
    df = spark.createDataFrame(pdf)
    expr = time_bucket_expr(df.schema["t.s"].dataType, "1 hour", "t.s")
    assert sorted(r["b"] for r in df.select(expr.alias("b")).collect()) == [
        0,
        2,
    ]


# ---------------------------------------------------------------------------
# r9 verdict #7 — bucketed-plan width guardrails
# ---------------------------------------------------------------------------


def test_bucket_width_report_flags_degenerate_widths(spark):
    """Equality holds for any width, but the cost doesn't: an
    everything-in-one-bucket width degenerates to the unbucketed sort +
    stitch overhead, a one-row-per-bucket width explodes the carry join.
    Both now warn loudly with the fix named."""
    import warnings

    from fs2_kafka_streams_spark.functions.buckets import (
        bucket_width_report,
    )

    pdf = pd.DataFrame(
        {
            "k": [1] * 50 + [2] * 50,
            "ts": pd.to_datetime(
                list(range(0, 500_000, 10_000)) * 2, unit="s"
            ).astype("datetime64[us]"),
        }
    )
    df = spark.createDataFrame(pdf)

    healthy = bucket_width_report(
        df, "ts", "1 day", key_cols=["k"], warn=False
    )
    assert healthy["warning"] is None
    assert healthy["rows"] == 100
    assert healthy["buckets"] == 6  # 500k s / 86400 s
    assert healthy["max_group_rows"] < 100

    too_wide = bucket_width_report(
        df, "ts", "3650 days", key_cols=["k"], warn=False
    )
    assert "one bucket" in too_wide["warning"]
    assert too_wide["buckets"] == 1

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        too_narrow = bucket_width_report(
            df, "ts", "1 second", key_cols=["k"]
        )
    assert "widen" in too_narrow["warning"]
    assert any("widen" in str(x.message) for x in w)

    # numeric order column goes through the same path
    ndf = spark.createDataFrame(
        pd.DataFrame({"k": [1] * 10, "pos": range(10)})
    )
    num = bucket_width_report(ndf, "pos", 5, key_cols=["k"], warn=False)
    assert num["buckets"] == 2 and num["warning"] is None
    # empty frame: no division by zero, no warning
    empty = bucket_width_report(
        ndf.limit(0), "pos", 5, key_cols=["k"], warn=False
    )
    assert empty["rows"] == 0 and empty["warning"] is None


# ---------------------------------------------------------------------------
# r9 cold-review probes — suspicions raised on read, settled by execution
# ---------------------------------------------------------------------------


def test_session_window_exact_gap_boundary(spark):
    """queries/windows.py q35 review: the oracle starts a new session on
    gap STRICTLY greater than the 30-minute gap (a tie merges). Probed:
    Spark's session_window also merges an event arriving EXACTLY at the
    previous session's end (touching windows coalesce), so both engines
    agree at the boundary — pinned so a Spark semantic change surfaces
    here, not as a driver hash mismatch."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            # 0s, exactly +30min, then +60min after that (clearly new)
            "ts": pd.to_datetime([0, 1800, 5400], unit="s").astype(
                "datetime64[us]"
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), "n")
        .orderBy("s")
        .collect()
    )
    assert [r["n"] for r in out] == [2, 1]  # the tie MERGED


def test_catalog_nanos_truncation_matches_duckdb_preepoch(spark, tmp_path):
    """catalog.py review: the nanos→micros conversion uses `div 1000`
    (truncation toward zero). Probed: DuckDB's TIMESTAMP_NS→TIMESTAMP
    cast also truncates toward zero (−1500 ns → −1 µs, −999 ns → 0), so
    the two engines agree even for pre-epoch values the driver data
    never exercises."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fs2_kafka_streams_spark.catalog import Catalog

    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array([-1500, -999, 999, 1500], pa.timestamp("ns")),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(t, str(sf / "events.parquet"))
    got = {
        r["event_id"]: r["ts"]
        for r in Catalog(spark, str(sf)).events.collect()
    }
    con = duckdb.connect()
    want = dict(
        con.sql(
            "SELECT event_id, CAST(ts AS TIMESTAMP) FROM "
            f"read_parquet('{sf}/events.parquet')"
        ).fetchall()
    )
    assert got == want
    assert got[1].microsecond == 999999  # -1500ns -> -1us, i.e. .999999


# ---------------------------------------------------------------------------
# r9 verdict #6 — executed trigger counts are in-artifact facts
# ---------------------------------------------------------------------------


def test_run_trace_records_trigger_counts(spark, tmp_path):
    """Every streaming runner appends {name, n_triggers} to
    streaming/run.py::RUN_TRACE after awaitTermination — bench.py
    snapshots RUN_SEQ around each entry so a trigger-count change between
    rounds is visible in the artifact (fsync volume ∝ triggers)."""
    import numpy as np

    from fs2_kafka_streams_spark.streaming import run as srun
    from fs2_kafka_streams_spark.streaming.run import run_to_memory
    from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA
    from tests.conftest import write_replay_files

    frames = []
    for i in range(4):
        frames.append(
            pd.DataFrame(
                {
                    "event_id": [i * 2 + 1, i * 2 + 2],
                    "ts": pd.to_datetime(
                        [i * 100, i * 100 + 50], unit="s"
                    ).astype("datetime64[us]"),
                    "user_id": [1, 2],
                    "event_type": ["view", "click"],
                    "value": [1.0, 2.0],
                    "props": ["{}", "{}"],
                }
            )
        )
    replay = write_replay_files(tmp_path / "replay", frames)
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(replay)
    )
    agg = src.groupBy("user_id").count()
    seq_before = srun.RUN_SEQ
    out = run_to_memory(spark, agg, "trig_probe", output_mode="complete")
    assert out.count() == 2
    assert srun.RUN_SEQ == seq_before + 1
    rec = srun.RUN_TRACE[-1]
    assert rec["name"].startswith("trig_probe")
    assert rec["n_triggers"] == 2  # 4 files / 2 per trigger
    # bench.py reads the trace the same way PIN_TRACE is read — resolve
    # the source via the module, not CWD (pytest may run from anywhere)
    import bench

    src_txt = open(bench.__file__).read()
    assert '"n_triggers": triggers_map' in src_txt


# ---------------------------------------------------------------------------
# r8 advisory #3 — bench noise floor is unit-scaled for the IO trace
# ---------------------------------------------------------------------------


def test_bench_noise_floor_unit_scaled():
    """noise_flags' absolute jitter floor was 0.05 in the trace's own unit
    — right for the CPU trace (seconds: 50 ms) but reused for the IO
    trace (ms/op), where 0.05 ms let sub-millisecond fsync jitter flag
    entries on a fast-NVMe host. The floor is now a parameter; bench
    passes 0.25 ms for IO."""
    import bench

    names = [f"q{i}" for i in range(5)]
    # fast-disk IO trace (ms/op): 0.07 ms of jitter is NOT host noise
    fast = [0.05, 0.06, 0.12, 0.05, 0.06, 0.05]
    noisy_old, _ = bench.noise_flags(names, fast)  # default 0.05 floor
    assert noisy_old, "sanity: the old floor DID spuriously flag"
    noisy_new, _ = bench.noise_flags(names, fast, abs_floor=0.25)
    assert noisy_new == {}
    # a genuinely hot fsync tick (2.5x median) still flags its bracket
    hot = [0.6, 0.6, 1.5, 0.6, 0.6, 0.6]
    noisy_hot, _ = bench.noise_flags(names, hot, abs_floor=0.25)
    assert sorted(noisy_hot) == ["q1", "q2"]


def test_bench_summary_carries_flag_names():
    """r9: the driver keeps only the stdout tail, so the summary line must
    answer "WHICH entries were measured hot" — names ride the summary
    (hottest first, size-capped, '+N' overflow marker), not just
    counts."""
    import bench

    flags = {f"q{i:02d}": [0.6, 0.6 + 0.1 * i] for i in range(15)}
    names = bench.flag_names(flags, mid=0.6, cap=12)
    assert len(names) == 13 and names[-1] == "+3"
    assert names[0] == "q14"  # hottest bracket first
    assert "q02" not in names  # the cap drops the least-inflated
    # under cap: every name, no marker
    small = {"a": [0.6, 1.2], "b": [0.9, 0.6]}
    assert bench.flag_names(small, mid=0.6) == ["a", "b"]
    # summary construction uses the helper for both axes
    src = open(bench.__file__).read()
    assert '"noisy_names": flag_names(noisy' in src
    assert '"noisy_io_names": flag_names(noisy_io' in src
