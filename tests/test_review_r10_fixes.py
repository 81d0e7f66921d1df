"""Pins for the round-9 advisory findings (ADVICE.md, r9).

One test per advisory item, same contract as test_review_r8/r9_fixes.py:
the fix must be observable behavior, not a comment.
"""

from __future__ import annotations

import os
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.queries import load_all
from fs2_kafka_streams_spark.testing import (
    driver_canon,
    driver_gate,
    driver_hash,
)


# ---------------------------------------------------------------------------
# r9 advisory #1 — dotted column names in the numeric bucket branch,
# bucket_width_report key_cols, and detect_hot_keys
# ---------------------------------------------------------------------------


def test_numeric_bucket_quotes_dotted_column(spark):
    """time_bucket_expr's numeric branch must backtick-quote the column
    name like the duration branch does — a dotted name ('t.s') otherwise
    misbinds as a struct-field reference and fails analysis."""
    from fs2_kafka_streams_spark.functions.buckets import time_bucket_expr

    df = spark.createDataFrame(
        pd.DataFrame({"t.s": [0.0, 5.0, 10.0], "k": [1, 1, 2]})
    )
    expr = time_bucket_expr(df.schema["t.s"].dataType, 4.0, "t.s")
    got = sorted(r[0] for r in df.select(expr.alias("b")).collect())
    assert got == [0, 1, 2]


def test_bucket_width_report_quotes_dotted_key_cols(spark):
    """bucket_width_report's key_cols go through the same quoting."""
    from fs2_kafka_streams_spark.functions.buckets import (
        bucket_width_report,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {"t": [0.0, 5.0, 10.0, 11.0], "grp.id": [1, 1, 2, 2]}
        )
    )
    rep = bucket_width_report(
        df, "t", 4.0, key_cols=["grp.id"], warn=False
    )
    assert rep["rows"] == 4
    # (key=1, b=0), (key=1, b=1), (key=2, b=2) x2
    assert rep["groups"] == 3
    assert rep["max_group_rows"] == 2


def test_detect_hot_keys_quotes_dotted_key(spark):
    """detect_hot_keys on a dotted key name groups on the COLUMN, not a
    struct field, and the returned values are the plain key values."""
    from fs2_kafka_streams_spark.operators.joins import detect_hot_keys

    df = spark.createDataFrame(
        pd.DataFrame({"user.id": [7] * 98 + [1, 2]})
    )
    assert detect_hot_keys(df, "user.id", share=0.5) == [7]


# ---------------------------------------------------------------------------
# r9 advisory #2 — detect_hot_keys releases its checkpoint blocks
# ---------------------------------------------------------------------------


def test_detect_hot_keys_releases_checkpoint_storage(spark):
    """The eager localCheckpoint inside detect_hot_keys must be
    unpersisted once both collects have read it: repeated detections in a
    long-lived session must not accumulate executor block storage."""
    from fs2_kafka_streams_spark.operators.joins import detect_hot_keys

    df = spark.createDataFrame(
        pd.DataFrame({"k": [0] * 90 + list(range(10))})
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        assert detect_hot_keys(df, "k", share=0.5) == [0]
    assert jsc.getPersistentRDDs().size() <= before


# ---------------------------------------------------------------------------
# r9 advisory #3 — unknown trigger counts record None, not -1
# ---------------------------------------------------------------------------


def test_record_run_unknown_trigger_count_is_none():
    """If reading lastProgress throws, record_run must record None (JSON
    null) — a numeric sentinel like -1 silently skews any cross-round
    sum/diff of executed trigger counts."""
    from fs2_kafka_streams_spark.streaming import run as srun

    class _Boom:
        @property
        def lastProgress(self):
            raise RuntimeError("gone")

    seq_before = srun.RUN_SEQ
    srun.record_run("probe_none", _Boom())
    assert srun.RUN_SEQ == seq_before + 1
    rec = srun.RUN_TRACE[-1]
    assert rec["name"] == "probe_none"
    assert rec["n_triggers"] is None
    assert rec["triggers"] is None  # and no per-trigger durations


# ---------------------------------------------------------------------------
# r10 cold review — streaming/replay.py
# ---------------------------------------------------------------------------


def _write_parquet(path, frame):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(frame), path)
    return str(path)


def test_replay_null_ids_total_not_vanish(tmp_path):
    """A NULL id used to convert to NaN, NaN % n matched no bucket, and
    the row silently vanished from every replay file — breaking the
    multiset equality the harness rests on. r10 made that a loud
    ValueError; r11 upgraded the split to TOTAL: NULL-id rows bucket
    deterministically by row position (the wire source's round-robin
    last resort), so the replay multiset equals the source multiset
    with NULL ids in-band."""
    import pyarrow.parquet as pq

    from fs2_kafka_streams_spark.streaming.replay import replay_dir

    frame = pd.DataFrame(
        {
            "event_id": pd.array([1, 2, None, None, 5], dtype="Int64"),
            "v": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    _write_parquet(tmp_path / "t.parquet", frame)
    d = replay_dir(str(tmp_path), "t", cache_root=str(tmp_path / "cache"))
    got = []
    for f in sorted(Path(d).glob("part-*.parquet")):
        got += pq.read_table(f).column("v").to_pylist()
    # multiset equality: nothing vanished, nothing duplicated
    assert sorted(got) == [1.0, 2.0, 3.0, 4.0, 5.0]
    # determinism: a rebuilt split deals identical buckets
    import shutil

    shutil.rmtree(d)
    d2 = replay_dir(str(tmp_path), "t", cache_root=str(tmp_path / "cache"))
    per_file = [
        pq.read_table(f).column("v").to_pylist()
        for f in sorted(Path(d2).glob("part-*.parquet"))
    ]
    assert sorted(sum(per_file, [])) == [1.0, 2.0, 3.0, 4.0, 5.0]
    # NULL-id rows (v=3 at position 2, v=4 at position 3) land at
    # position % n_files — stable, position-derived buckets
    assert 3.0 in per_file[2] and 4.0 in per_file[3]


def test_replay_cache_keyed_on_id_col(tmp_path):
    """Two replays of the SAME table with DIFFERENT id columns must not
    share a cache directory — the second caller would silently get the
    first caller's bucket split."""
    import pyarrow.parquet as pq

    from fs2_kafka_streams_spark.streaming.replay import replay_dir

    frame = pd.DataFrame(
        {"a": [0, 1, 2, 3, 4, 5, 6, 7], "b": [0, 0, 0, 0, 1, 1, 1, 1]}
    )
    _write_parquet(tmp_path / "t.parquet", frame)
    cache = str(tmp_path / "cache")
    d_a = replay_dir(str(tmp_path), "t", id_col="a", cache_root=cache)
    d_b = replay_dir(str(tmp_path), "t", id_col="b", cache_root=cache)
    assert d_a != d_b
    # and the b-split really is keyed on b: bucket 1 holds b % 4 == 1
    import pathlib

    f1 = sorted(pathlib.Path(d_b).glob("part-*.parquet"))[1]
    got = pq.read_table(f1).column("b").to_pylist()
    assert got == [1, 1, 1, 1]


# ---------------------------------------------------------------------------
# r10 cold review — merged driver entries carry each column name once
# ---------------------------------------------------------------------------


def test_join_merges_have_disjoint_value_columns(spark):
    """Every entry that merges several variants' columns emits each column
    name once — a duplicate name makes the driver's sort-columns-by-name
    hash compare ambiguous orderings."""
    from fs2_kafka_streams_spark.queries import REGISTRY, load_all

    load_all()  # standalone runs must not depend on import order

    for name in [
        "q25_string_hash_functions",
        "q26_date_math_functions",
        "q28_conditional_json",
        "q29_array_hof_agg",
        "q19_window_ranking_dist",
        "q20_window_analytic_value",
        "q16c_pivot_map",
        "q07_join_multiway_broadcast",
        "q43b_text_metrics",
    ]:
        df = REGISTRY[name].build(spark, "/root/testdata/sf0.001")
        assert len(set(df.columns)) == len(df.columns), name


# ---------------------------------------------------------------------------
# r10 cold review — streaming/cep.py batch twins used unix_timestamp
# ---------------------------------------------------------------------------


def test_cep_batch_lag_is_dst_proof(spark):
    """pattern_match_batch computed lag_seconds via unix_timestamp, which
    interprets TIMESTAMP_NTZ as session-LOCAL wall time — a (view, click)
    pair straddling a DST spring-forward under a DST session timezone
    reported a lag 3600 s short of the streaming side's pure-µs integers
    and the DuckDB oracle's timezone-free epoch. Pinned on the 2024-03-10
    America/New_York transition: wall-clock lag is 7200 s."""
    from fs2_kafka_streams_spark.streaming.cep import pattern_match_batch

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2],
            # 01:30 EST -> 03:30 EDT wall time: 2h wall, 1h instant
            "ts": pd.to_datetime(
                ["2024-03-10 01:30:00", "2024-03-10 03:30:00"]
            ).astype("datetime64[us]"),
            "user_id": [7, 7],
            "event_type": ["view", "click"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    )
    df = spark.createDataFrame(pdf)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        out = pattern_match_batch(df, gap="180 minutes").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert len(out) == 1
    assert out[0]["lag_seconds"] == 7200


# ---------------------------------------------------------------------------
# r10 trigger cut — ONE sentinel + the availableNow no-data batch flush
# ---------------------------------------------------------------------------


def test_single_sentinel_flushes_outer_state(spark, tmp_path):
    """The replay sentinel is ONE file (r8 shipped two): the sentinel
    batch advances the watermark past every real event, and availableNow's
    final no-data micro-batch flushes the pending outer-join state. The
    emitted multiset must equal the batch LEFT JOIN — matched rows once,
    unmatched lefts once with NULLs."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.streaming.replay import replay_dir
    from fs2_kafka_streams_spark.streaming.run import run_to_memory

    B = 1577836800  # 2020-01-01 — away from the epoch watermark floor
    src_pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                [B, B + 60, B + 120, B + 180], unit="s"
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 2, 9],
            "event_type": ["view", "click", "view", "click"],
            "value": [1.0, 2.0, 1.0, 2.0],
            "props": ["{}"] * 4,
        }
    )
    pq.write_table(
        pa.Table.from_pandas(src_pdf), str(tmp_path / "events.parquet")
    )
    rd = replay_dir(
        str(tmp_path), "events", n_files=2, order_col="ts",
        sentinel_minutes=60, cache_root=str(tmp_path / "cache"),
    )
    import pathlib

    files = sorted(pathlib.Path(rd).glob("part-*.parquet"))
    assert len(files) == 3  # 2 data + ONE sentinel

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def mk():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(rd)
        )

    a = mk().withWatermark("ts", "10 minutes").alias("a")
    b = mk().withWatermark("ts", "10 minutes").alias("b")
    joined = a.join(
        b,
        on=[
            F.col("a.user_id") == F.col("b.user_id"),
            F.col("a.event_id") < F.col("b.event_id"),
            F.col("b.ts").between(
                F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"),
                F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"),
            ),
        ],
        how="left",
    ).select(
        F.col("a.event_id").alias("id_a"), F.col("b.event_id").alias("id_b")
    )
    out = run_to_memory(
        spark, joined, "sent_probe",
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    got = sorted(
        ((r[0], r[1]) for r in out.filter(F.col("id_a") != -1).collect()),
        key=str,
    )
    assert got == sorted([(1, 2), (2, None), (3, None), (4, None)], key=str)


# ---------------------------------------------------------------------------
# r10 cold review — similarity UDFs guard empty Arrow batches
# ---------------------------------------------------------------------------


def test_similarity_udfs_survive_empty_input(spark):
    """band_signatures' and _cell_udf's pandas UDFs called np.stack on the
    batch unguarded — an empty Arrow batch raises ValueError('need at
    least one array to stack'). Pinned on an empty frame end-to-end."""
    import numpy as np

    from fs2_kafka_streams_spark.operators.similarity import (
        _cell_udf,
        band_signatures,
    )

    df = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    got = df.select(
        band_signatures("embedding", 8, 4, 2).alias("sigs")
    ).collect()
    assert got == []
    C = np.eye(4, 8, dtype=np.float64)
    got2 = df.select(_cell_udf(C, 2)("embedding").alias("c")).collect()
    assert got2 == []


def test_q72_executes_four_triggers(spark):
    """The outer-join entry runs 2 data triggers + 1 sentinel trigger +
    the engine's no-data flush batch = 4 total. A fifth trigger means the
    second sentinel file came back (or the replay shape changed) — each
    extra trigger is a full round of state-store commits across every
    join store."""
    from fs2_kafka_streams_spark.streaming import run as srun

    spec = load_all()["q72_stream_outer_join"]
    n = spec.build(spark, "/root/testdata/sf0.001").count()
    assert n > 0
    assert srun.RUN_TRACE[-1]["n_triggers"] == 4


# ---------------------------------------------------------------------------
# r9 advisory #4 — no CWD-relative source reads in tests
# ---------------------------------------------------------------------------


def test_no_cwd_relative_bench_open():
    """tests must resolve bench.py via the module, never open('bench.py')
    relative to the CWD (pytest may be invoked from anywhere). Nor may a
    test import from scripts/: the harness lives in bench.py and the
    driver-gate compare in fs2_kafka_streams_spark/testing.py."""
    import pathlib

    here = pathlib.Path(__file__).parent
    # needles split so this file never matches
    needles = ("open(" + '"bench.py")', "REPO / " + '"scripts"')
    for p in here.glob("test_*.py"):
        for needle in needles:
            assert needle not in p.read_text(), (p.name, needle)


# ---------------------------------------------------------------------------
# r10 NULL event-time contract — found by a full-registry sweep on a corpus
# whose events table carries NULL timestamps
# ---------------------------------------------------------------------------
#
# The sweep found 9 entries silently diverging or crashing when events.ts
# is NULL: window order (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST)
# flipped q55's transition counts and q62's rolling frames; q63 counted a
# NULL-gap row DuckDB filtered; F.window/session_window DROP NULL event
# times while time_bucket(NULL)/gaps-and-islands kept a NULL group
# (q33/q33b); the streaming outer join never emits a NULL-event-time left
# row the batch LEFT JOIN kept (q72); DuckDB's ASOF hands a NULL probe the
# LATEST right row where asof_join documents unmatched (q12); and the CEP
# funnel (q59) / wire source (q67) CRASHED converting NaT to int64 µs.
#
# Contract now pinned here: event-time operators drop NULL event-time rows
# on BOTH engines (matching Structured Streaming's own semantics); the
# as-of join keeps NULL probes unmatched; the wire source carries a NULL
# timestamp in-band (Kafka NoTimestampType), never crashes.

NULL_TS_ENTRIES = [
    "q12_join_asof",
    "q33_time_windows",
    "q55_event_transitions",
    "q62_anomaly",
    "q63_time_weighted_avg",
    "q71_resample_ohlc",  # robust by design: NULL-day rows form their own group
    "q67_python_datasource",  # wire NaT crash — now NULL in-band
    "q59_stream_funnel_match",  # CEP NaT crash — now dropped at the source
    "q72_stream_outer_join",
    "q33b_windows_streaming",
]


@pytest.fixture(scope="session")
def null_ts_sf_dir(tmp_path_factory):
    """A copy of sf0.001 whose events table carries 8 NULL-ts rows."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnull")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "events.parquet":
            shutil.copy(os.path.join(src, f), d / f)
    e = pd.read_parquet(os.path.join(src, "events.parquet"))
    extra = e.head(8).copy()
    extra["event_id"] = range(
        int(e["event_id"].max()) + 1, int(e["event_id"].max()) + 9
    )
    extra["ts"] = pd.NaT
    pd.concat([e, extra], ignore_index=True).to_parquet(
        d / "events.parquet", index=False
    )
    return str(d)


@pytest.mark.parametrize("name", NULL_TS_ENTRIES)
def test_null_event_time_contract(spark, null_ts_sf_dir, name):
    """Every affected entry hash-matches its oracle on the NULL-bearing
    corpus — the same canonicalize-and-hash the driver gate runs."""
    assert driver_gate(spark, null_ts_sf_dir, load_all()[name])


def test_wire_source_null_timestamp_in_band(spark, null_ts_sf_dir):
    """A NULL event timestamp round-trips the wire as json null → NULL ts
    (Kafka's NoTimestampType shape) — the read task must never crash on
    NaT, and the decoded multiset must equal the source table exactly."""
    from fs2_kafka_streams_spark.sources.python_source import (
        decode_wire,
        read_wire,
    )

    wire = read_wire(spark, null_ts_sf_dir, table="events", partitions=4)
    events = decode_wire(wire).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    got = events.toPandas().sort_values("event_id", ignore_index=True)
    want = (
        pd.read_parquet(os.path.join(null_ts_sf_dir, "events.parquet"))
        .sort_values("event_id", ignore_index=True)
    )
    assert len(got) == len(want)
    assert got["ts"].isna().sum() == 8
    pd.testing.assert_series_equal(
        got["ts"].astype("datetime64[us]"), want["ts"].astype("datetime64[us]")
    )


# ---------------------------------------------------------------------------
# r10 NULL-key / NULL-attribute contract — second hostile-corpus sweep axis
# (NULL user_id = NULL Kafka record key / grouping key; NULL event_type =
# NULL map key / tombstone comparand; NULL value)
# ---------------------------------------------------------------------------
#
# The sweep found 10 more entries diverging or crashing: a NULL event_type
# crashed the map HOFs ([NULL_MAP_KEY], q32) and silently became a
# tombstone in the oracles' `<> 'error'` while Spark's `== 'error'` made
# the flag NULL (q53/q56); the null-unsafe self-join on event_type dropped
# the whole NULL group from the sketch entries (q64/q69); NULL user_id
# crashed the CEP folds (int64 astype on NaN: q57/q57b/q59), silently
# VANISHED from the wire topic (NaN % n matches no partition: q67), and is
# never emitted by the streaming outer join (q72).
#
# Contract pinned here: NULL grouping keys are legitimate groups
# (both engines group NULLs together); NULL event_type is a write, not a
# tombstone (IS DISTINCT FROM / eqNullSafe on both sides); map-keyed
# operators exclude NULL keys explicitly on both sides; the wire source
# round-robins NULL-key records deterministically (event_id % n — Kafka's
# unkeyed produce) and carries a NULL key cell.

NULL_KEY_ENTRIES = [
    "q32_dlq_map_hof",
    "q53_scd_history",
    "q56_incremental_upsert",
    "q64_hll_sketch_merge",
    "q69_bitmap_distinct",
    "q67_python_datasource",
    "q57_stream_pattern_match",
    "q59_stream_funnel_match",
    "q72_stream_outer_join",
]


@pytest.fixture(scope="session")
def null_key_sf_dir(tmp_path_factory):
    """A copy of sf0.001 with NULL user_id / event_type / value rows."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnullkey")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "events.parquet":
            shutil.copy(os.path.join(src, f), d / f)
    e = pd.read_parquet(os.path.join(src, "events.parquet"))
    mx = int(e["event_id"].max())
    base_ts = e["ts"].max()
    rows = []
    for i in range(4):  # NULL record/grouping key
        rows.append(dict(
            event_id=mx + 1 + i, ts=base_ts + pd.Timedelta(minutes=i + 1),
            user_id=None,
            event_type=["view", "click", "view", "purchase"][i],
            value=float(i), props=e["props"].iloc[0],
        ))
    for i in range(2):  # NULL event_type (map key / tombstone comparand)
        rows.append(dict(
            event_id=mx + 5 + i, ts=base_ts + pd.Timedelta(minutes=10 + i),
            user_id=int(e["user_id"].iloc[0]), event_type=None,
            value=1.5, props=e["props"].iloc[1],
        ))
    for i in range(2):  # NULL value / props
        rows.append(dict(
            event_id=mx + 7 + i, ts=base_ts + pd.Timedelta(minutes=20 + i),
            user_id=int(e["user_id"].iloc[1]), event_type="view",
            value=None, props=None,
        ))
    extra = pd.DataFrame(rows)
    extra["user_id"] = extra["user_id"].astype("Int64")
    e2 = pd.concat([e, extra], ignore_index=True)
    e2["ts"] = e2["ts"].astype("datetime64[us]")
    e2.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", NULL_KEY_ENTRIES)
def test_null_key_contract(spark, null_key_sf_dir, name):
    """Every affected entry hash-matches its oracle on the NULL-key
    corpus — same driver-gate canonicalize-and-hash as the ts axis."""
    assert driver_gate(spark, null_key_sf_dir, load_all()[name])


def test_wire_source_null_key_round_robin(spark, null_key_sf_dir):
    """NULL-key records must reach the topic (they used to vanish: NaN % n
    matches no partition id), carry a genuinely NULL key cell, and decode
    back with user_id NULL — Kafka's unkeyed produce."""
    from fs2_kafka_streams_spark.sources.python_source import (
        decode_wire,
        read_wire,
    )

    wire = read_wire(spark, null_key_sf_dir, table="events", partitions=4)
    wdf = wire.toPandas()
    assert len(wdf) == 1008, "no record may vanish from the topic"
    assert wdf["key"].isna().sum() == 4, "NULL keys ride as NULL cells"
    got = decode_wire(wire).toPandas()
    assert got["user_id"].isna().sum() == 4
    # deterministic round-robin stand-in: event_id % n_parts
    want = pd.read_parquet(os.path.join(null_key_sf_dir, "events.parquet"))
    nulls = want[want["user_id"].isna()]
    by_eid = got.set_index("event_id")
    for eid in nulls["event_id"]:
        assert int(by_eid.loc[eid, "partition"]) == eid % 4


# ---------------------------------------------------------------------------
# r10 hostile-text / hostile-embedding axis — sweep found ZERO divergences
# (the r7-r9 NULL-text, emptiness and zero-batch guards already cover it);
# this pin keeps the two most exposed entries green on that corpus
# ---------------------------------------------------------------------------


@pytest.fixture(scope="session")
def hostile_docs_sf_dir(tmp_path_factory):
    """sf0.001 + degenerate documents (empty/whitespace/emoji/RTL/CJK/
    100k-char/control-chars) and embeddings (zero-norm, 1e-30-norm,
    exact-negative copy)."""
    import shutil

    import numpy as np

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfhostile")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f not in (
            "documents.parquet", "embeddings.parquet"
        ):
            shutil.copy(os.path.join(src, f), d / f)
    docs = pd.read_parquet(os.path.join(src, "documents.parquet"))
    mx = int(docs.doc_id.max())
    texts = [
        "", "   \t\n  ", "\U0001f99c\U0001f99c \U0001f389",
        "مرحبا بالعالم",
        "日本語のテキストです",
        "a" * 100_000, ("word " * 20_000).strip(),
        "!!! ??? ... ;;; ---", "\x00null\x01byte",
    ]
    extra = pd.DataFrame([
        dict(doc_id=mx + 1 + i, text=t, lang="en", source="hostile",
             n_chars=len(t))
        for i, t in enumerate(texts)
    ])
    pd.concat([docs, extra], ignore_index=True).to_parquet(
        d / "documents.parquet", index=False
    )
    emb = pd.read_parquet(os.path.join(src, "embeddings.parquet"))
    dim = len(emb.embedding.iloc[0])
    mxv = int(emb.vec_id.max())
    extra = pd.DataFrame([
        dict(vec_id=mxv + 1, embedding=np.zeros(dim, dtype=np.float32),
             label=0),
        dict(vec_id=mxv + 2, embedding=np.full(dim, 1e-30, dtype=np.float32),
             label=1),
        dict(vec_id=mxv + 3,
             embedding=-np.asarray(emb.embedding.iloc[0], dtype=np.float32),
             label=2),
    ])
    e2 = pd.concat([emb, extra], ignore_index=True)
    e2["label"] = e2["label"].astype("int32")
    e2.to_parquet(d / "embeddings.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", ["q43b_text_metrics", "q44c_embedding_neardup"])
def test_hostile_text_embedding_corpus(spark, hostile_docs_sf_dir, name):
    assert driver_gate(spark, hostile_docs_sf_dir, load_all()[name])


# ---------------------------------------------------------------------------
# r10 empty-table axis — a full-registry sweep on schema-exact EMPTY events/
# documents/embeddings found 81/83 entries already correct (0 rows on both
# engines); the two crashes are pinned here
# ---------------------------------------------------------------------------


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory):
    """sf0.001 with events/documents/embeddings sliced to 0 rows,
    schemas preserved exactly (pyarrow slice, not pandas head —
    pandas degrades empty object columns to the Arrow null type)."""
    import shutil

    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfempty")
    for f in os.listdir(src):
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(src, f)
        if f in ("events.parquet", "documents.parquet", "embeddings.parquet"):
            pq.write_table(pq.read_table(p).slice(0, 0), str(d / f))
        else:
            shutil.copy(p, d / f)
    return str(d)


@pytest.mark.parametrize("name", ["q72_stream_outer_join", "q44e_ivf_ann"])
def test_empty_topic_contract(spark, empty_sf_dir, name):
    """An empty topic is production-normal. The replay sentinel used to
    crash timing itself off max(ts) of zero rows (None + timedelta), and
    the IVF trainer crashed in np.stack on an empty sample — both now
    yield the exact empty result on both engines."""
    res = driver_gate(spark, empty_sf_dir, load_all()[name])
    assert res.spark_rows == 0 and res.oracle_rows == 0
    assert res.schema_match


def test_ivf_small_corpus_exhaustive_fallback(spark):
    """The 0 < n < nlist regime — POLICY REVISED by the r10 tiny-corpus
    sweep: the earlier loud ValueError made the entry crash where its
    oracle returned rows. k-means cannot place more centroids than
    points, so the trainer shrinks nlist to n and probes every cell:
    exhaustive, hence EXACT (equality with brute force pinned here and
    in test_ivf_degenerate_corpus_is_exhaustive). n == 0 still returns
    the exact empty set."""
    from fs2_kafka_streams_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    ivf = sorted(map(tuple, ivf_topk(emb, emb, k=1, nlist=16)
                     .select("query_id", "neighbor_id", "rank").collect()))
    ex = sorted(map(tuple, cosine_topk(emb, emb, k=1)
                    .select("query_id", "neighbor_id", "rank").collect()))
    assert ivf == ex and len(ivf) == 3
    assert ivf_topk(emb.limit(0), emb, k=1, nlist=16).count() == 0


# ---------------------------------------------------------------------------
# r10 extreme-numerics axis — NaN / ±inf / ±1e308 / 1e-320 in events.value
# ---------------------------------------------------------------------------
#
# The sweep found 8 entries crashing, each differently: Spark ANSI threw
# CAST_OVERFLOW (q63/q73), DuckDB threw ConversionException (q50/q62),
# and the decimal(18,2) oracle casts threw where Spark's would NULL
# (q33/q33b/q36/q60). Contract: metric values outside the exact-decimal
# measure domain (non-finite or |x| >= 1e14) are NULL measures on both
# engines — one portable predicate, canonical.measure / sql_measure.
# TPC-H money columns keep the documented ≤2-dp precondition.

NAN_VALUE_ENTRIES = [
    "q33_time_windows",
    "q36_watermark_late_drop",
    "q50_table_profile",
    "q60_gapfill",
    "q62_anomaly",
    "q63_time_weighted_avg",
    "q73_recursive_cte",
]


@pytest.fixture(scope="session")
def nan_value_sf_dir(tmp_path_factory):
    """sf0.001 with NaN / +inf / -inf / ±1e308 / 1e-320 value rows."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnan")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "events.parquet":
            shutil.copy(os.path.join(src, f), d / f)
    e = pd.read_parquet(os.path.join(src, "events.parquet"))
    mx = int(e.event_id.max())
    base_ts = e.ts.max()
    vals = [float("nan"), float("inf"), float("-inf"), 1e308, -1e308, 1e-320]
    extra = pd.DataFrame([
        dict(event_id=mx + 1 + i, ts=base_ts + pd.Timedelta(minutes=i + 1),
             user_id=int(e.user_id.iloc[i]), event_type="view",
             value=v, props=e.props.iloc[0])
        for i, v in enumerate(vals)
    ])
    e2 = pd.concat([e, extra], ignore_index=True)
    e2["ts"] = e2["ts"].astype("datetime64[us]")
    e2.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", NAN_VALUE_ENTRIES)
def test_measure_domain_contract(spark, nan_value_sf_dir, name):
    assert driver_gate(spark, nan_value_sf_dir, load_all()[name])


def test_measure_predicate_classes(spark):
    """The single abs-bound predicate must NULL exactly the four hostile
    classes and pass everything finite below the bound — on BOTH engines
    (NaN comparison semantics differ between engines in general; this is
    the case they agree on)."""
    import duckdb

    from fs2_kafka_streams_spark.canonical import measure, sql_measure

    vals = [1.0, -2.5, 0.0, 1e-320, float("nan"), float("inf"),
            float("-inf"), 1e308, -1e308, 9.99e13, 1e14]
    pdf = pd.DataFrame({"value": vals})
    got = [
        r[0]
        for r in spark.createDataFrame(pdf)
        .select(measure("value"))
        .collect()
    ]
    con = duckdb.connect()
    con.register("t", pdf)
    want = [r[0] for r in con.sql(
        f"SELECT {sql_measure('value')} FROM t"
    ).fetchall()]

    def norm(x):
        return None if x is None or (isinstance(x, float) and pd.isna(x)) else x

    assert [norm(x) for x in got] == [norm(x) for x in want]
    assert norm(got[4]) is None and norm(got[5]) is None  # NaN, inf
    assert norm(got[10]) is None and norm(got[9]) == 9.99e13  # bound edge


def test_apply_changes_null_key_merges(spark):
    """r10 cold review of operators/incremental.py: the full-outer merge
    joined null-UNSAFELY on the key, so a NULL-key row present in both
    snapshot and delta came out TWICE (stale + fresh) instead of merging —
    snapshot+delta diverged from the whole-log fold exactly on the NULL
    group. (q56 passed the NULL-key sweep only because its split put every
    NULL-key row in the delta.)"""
    from fs2_kafka_streams_spark.operators.incremental import apply_changes

    seg1 = spark.createDataFrame(pd.DataFrame({
        "k": pd.array([1, None, 2], dtype="Int64"),
        "v": ["a", "b", "c"], "o": [1, 2, 3], "tomb": [False] * 3,
    }))
    seg2 = spark.createDataFrame(pd.DataFrame({
        "k": pd.array([None, 2], dtype="Int64"),
        "v": ["B2", "c2"], "o": [10, 11], "tomb": [False] * 2,
    }))
    snap = apply_changes(None, seg1, ["k"], "o", ["v"], "tomb")
    out = apply_changes(snap, seg2, ["k"], "o", ["v"], "tomb").toPandas()
    whole = apply_changes(
        None, seg1.unionByName(seg2), ["k"], "o", ["v"], "tomb"
    ).toPandas()

    def canon(df):
        return sorted(
            (-(10 ** 9) if pd.isna(r.k) else int(r.k), r.v, int(r.o))
            for r in df.itertuples()
        )

    assert canon(out) == canon(whole)
    assert sum(1 for k, _, _ in canon(out) if k == -(10 ** 9)) == 1

    # tombstone via NULL key still deletes exactly the NULL-key group
    seg3 = spark.createDataFrame(pd.DataFrame({
        "k": pd.array([None], dtype="Int64"),
        "v": ["x"], "o": [20], "tomb": [True],
    }))
    out3 = apply_changes(
        apply_changes(snap, seg2, ["k"], "o", ["v"], "tomb"),
        seg3, ["k"], "o", ["v"], "tomb",
    ).toPandas()
    assert canon(out3) == [(1, "a", 1), (2, "c2", 11)]


# ---------------------------------------------------------------------------
# r10 NULL-document axis — NULL text / lang / source rows in documents
# ---------------------------------------------------------------------------


@pytest.fixture(scope="session")
def null_doc_sf_dir(tmp_path_factory):
    """sf0.001 with NULL-text / NULL-lang / NULL-source document rows and
    a duplicated text whose copies differ only in (nullable) source."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnulldoc")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "documents.parquet":
            shutil.copy(os.path.join(src, f), d / f)
    docs = pd.read_parquet(os.path.join(src, "documents.parquet"))
    mx = int(docs.doc_id.max())
    extra = pd.DataFrame([
        dict(doc_id=mx + 1, text=None, lang="en", source="s", n_chars=0),
        dict(doc_id=mx + 2, text=None, lang=None, source=None, n_chars=0),
        dict(doc_id=mx + 3, text="a normal document here", lang=None,
             source=None, n_chars=22),
        dict(doc_id=mx + 4, text="dup text dup text", lang="en",
             source="s", n_chars=17),
        dict(doc_id=mx + 5, text="dup text dup text", lang="en",
             source=None, n_chars=17),
    ])
    pd.concat([docs, extra], ignore_index=True).to_parquet(
        d / "documents.parquet", index=False
    )
    return str(d)


def test_gopher_metrics_null_text(spark, null_doc_sf_dir):
    """NULL text => every Gopher metric AND flag NULL on both engines
    (the r8 lang_id/fingerprint contract extended to the quality family —
    the engines' implicit behaviors disagreed per-column: Spark emitted
    dup_frac 0.0 where DuckDB gave NULL, DuckDB mean_word_len 0.0 where
    Spark gave NULL, and pass_quality flipped NULL/False)."""
    spec = load_all()["q43f_quality_filter"]
    assert driver_gate(spark, null_doc_sf_dir, spec)
    # and the NULL-text rows really are all-NULL across the family
    out = spec.build(spark, null_doc_sf_dir).toPandas()
    nulls = out[out.doc_id.isin([max(out.doc_id) - 4, max(out.doc_id) - 3])]
    for c in out.columns:
        if c != "doc_id":
            assert nulls[c].isna().all(), c


# ---------------------------------------------------------------------------
# r10 cold review of queries/windows.py — q37 dedup key NULL contract
# ---------------------------------------------------------------------------


@pytest.fixture(scope="session")
def null_id_sf_dir(tmp_path_factory):
    """sf0.001 with two NULL-event_id rows whose payloads DIFFER — the
    shape where dropDuplicates' NULL-merging picks an arbitrary winner."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnullid")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "events.parquet":
            shutil.copy(os.path.join(src, f), d / f)
    e = pd.read_parquet(os.path.join(src, "events.parquet"))
    base_ts = e["ts"].max()
    extra = pd.DataFrame([
        dict(event_id=None, ts=base_ts + pd.Timedelta(minutes=1),
             user_id=1, event_type="view", value=1.0, props='{"k": 1}'),
        dict(event_id=None, ts=base_ts + pd.Timedelta(minutes=2),
             user_id=2, event_type="click", value=2.0, props='{"k": 2}'),
    ])
    extra["event_id"] = extra["event_id"].astype("Int64")
    e2 = pd.concat([e, extra], ignore_index=True)
    e2["ts"] = e2["ts"].astype("datetime64[us]")
    e2.to_parquet(d / "events.parquet", index=False)
    return str(d)


def test_q37_null_id_rows_are_unkeyed(spark, null_id_sf_dir):
    """A NULL event_id is an UNKEYED record: Kafka rejects unkeyed produce
    to a compacted topic, so dedup must never merge two NULL-id rows.
    Pre-fix, dropDuplicates(["event_id"]) grouped all NULL ids and kept one
    ARBITRARY payload — nondeterministic and divergent from the oracle.
    Post-fix both engines keep every NULL-id copy (doubled stream => the
    two copies stay), hash-equal under the driver gate."""
    spec = load_all()["q37_dedup"]
    out = spec.build(spark, null_id_sf_dir).toPandas()
    # both distinct NULL-id payloads survive, doubled (2 copies each)
    nul = out[out.event_id.isna()]
    assert len(nul) == 4
    assert sorted(nul.user_id.tolist()) == [1, 1, 2, 2]
    # keyed rows still dedup back to exactly one copy per id
    keyed = out[out.event_id.notna()]
    assert keyed.event_id.is_unique
    assert driver_gate(spark, null_id_sf_dir, spec)


# ---------------------------------------------------------------------------
# r10 hostile-TPCH axis — NULL-bearing rows in orders/lineitem/customer/
# part/supplier (the relational tables; earlier sweeps covered only
# events/documents/embeddings). The sweep found 16 hash divergences and 2
# crashes, all latent on clean driver data:
#
# - Spark's default ASC null ordering is NULLS FIRST, DuckDB's is NULLS
#   LAST: every window/listagg ORDER BY on a nullable column diverged
#   (q19/q19b/q20/q20b/q70) -> oracles now spell NULLS FIRST.
# - Spark collect_list SKIPS NULL inputs, DuckDB list() keeps them
#   (q29/q29b/q29c) -> oracles FILTER, coalescing all-NULL groups to [].
# - Spark to_json OMITS null struct fields, DuckDB renders "s":null
#   (q31) -> ignoreNullFields=false.
# - SQL UNPIVOT excludes NULL cells, Spark's unpivot melt keeps them
#   (q16d) -> explicit isNotNull filter.
# - map_from_entries crashed on a NULL o_orderstatus key (q30 and the
#   q16c_pivot_map merge, [NULL_MAP_KEY]) -> when-guarded collect skips
#   NULL keys while the group survives with an empty map.
# - q15b's within_tol was a literal `true` in the oracle while Spark's
#   comparison is NULL for an all-NULL-quantity group.
# - q40's Arrow grouped-map hit Python's None == None -> True and gave an
#   all-NULL-price group norm 0.0 where SQL's NULL = NULL -> NULL gives
#   NULL (the applyInPandas twin had the mirror-image NaN == NaN -> False
#   hole, emitting NaN — a VALUE to Spark — instead of NULL).
# ---------------------------------------------------------------------------

HOSTILE_TPCH_ENTRIES = [
    "q15b_approx_percentile",
    "q16c_pivot_map",
    "q16d_unpivot",
    "q19_window_ranking_dist",
    "q20_window_analytic_value",
    "q28_conditional_json",
    "q29_array_hof_agg",
    "q29b_explode_lateral",
    "q29c_array_hof",
    "q40_udaf_grouped_map",
    "q70_listagg",
]


@pytest.fixture(scope="session")
def null_tpch_sf_dir(tmp_path_factory):
    """sf0.001 with NULL-bearing rows appended to the five relational
    tables, schema-preserving (pyarrow append, not pandas, so int32
    columns stay int32)."""
    import shutil
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnulltpch")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), d / f)

    def append(table_name, rows):
        t = pq.read_table(os.path.join(src, f"{table_name}.parquet"))
        cols = {f.name: [r.get(f.name) for r in rows] for f in t.schema}
        extra = pa.table(
            {f.name: pa.array(cols[f.name], type=f.type) for f in t.schema},
            schema=t.schema,
        )
        pq.write_table(pa.concat_tables([t, extra]), str(d / f"{table_name}.parquet"))

    D = dt.datetime.fromisoformat
    append("orders", [
        dict(o_orderkey=900001, o_custkey=7, o_orderstatus="F",
             o_totalprice=123.45, o_orderdate=None, o_orderpriority="1-URGENT"),
        dict(o_orderkey=900004, o_custkey=7, o_orderstatus="P",
             o_totalprice=345.67, o_orderdate=None, o_orderpriority="3-MEDIUM"),
        dict(o_orderkey=900002, o_custkey=11, o_orderstatus=None,
             o_totalprice=234.56, o_orderdate=D("1996-03-02"),
             o_orderpriority="2-HIGH"),
        dict(o_orderkey=900003, o_custkey=None, o_orderstatus="O",
             o_totalprice=None, o_orderdate=D("1997-07-04"),
             o_orderpriority=None),
    ])
    append("lineitem", [
        dict(l_orderkey=900001, l_partkey=3, l_suppkey=2, l_linenumber=None,
             l_quantity=10.0, l_extendedprice=100.0, l_discount=0.05,
             l_tax=0.02, l_returnflag="N", l_linestatus="O",
             l_shipdate=D("1996-04-01")),
        dict(l_orderkey=900001, l_partkey=5, l_suppkey=3, l_linenumber=2,
             l_quantity=None, l_extendedprice=None, l_discount=None,
             l_tax=None, l_returnflag=None, l_linestatus=None,
             l_shipdate=None),
        dict(l_orderkey=None, l_partkey=7, l_suppkey=1, l_linenumber=1,
             l_quantity=5.0, l_extendedprice=50.0, l_discount=0.01,
             l_tax=0.0, l_returnflag="A", l_linestatus="F",
             l_shipdate=D("1995-05-05")),
        dict(l_orderkey=900002, l_partkey=None, l_suppkey=None, l_linenumber=3,
             l_quantity=7.0, l_extendedprice=70.0, l_discount=0.02,
             l_tax=0.01, l_returnflag="R", l_linestatus="F",
             l_shipdate=D("1996-06-06")),
    ])
    append("customer", [
        dict(c_custkey=900001, c_name=None, c_nationkey=3, c_acctbal=None,
             c_mktsegment=None),
        dict(c_custkey=900002, c_name="Customer#000900002", c_nationkey=None,
             c_acctbal=5000.01, c_mktsegment="BUILDING"),
        dict(c_custkey=None, c_name="Customer#nullkey", c_nationkey=5,
             c_acctbal=9999.0, c_mktsegment="AUTOMOBILE"),
    ])
    append("part", [
        dict(p_partkey=900001, p_name="hostile null part", p_brand=None,
             p_type=None, p_size=None, p_retailprice=None),
    ])
    append("supplier", [
        dict(s_suppkey=900001, s_name="Supplier#null", s_nationkey=None,
             s_acctbal=None),
    ])
    return str(d)


@pytest.mark.parametrize("name", HOSTILE_TPCH_ENTRIES)
def test_hostile_tpch_contract(spark, null_tpch_sf_dir, name):
    """Every entry the hostile-TPCH sweep flagged hash-matches its oracle
    on the NULL-bearing relational corpus — the same driver-gate
    canonicalize-and-hash as the events/documents axes."""
    assert driver_gate(spark, null_tpch_sf_dir, load_all()[name])


# ---------------------------------------------------------------------------
# r10 unicode engine boundary — case mapping and edit distance
# ---------------------------------------------------------------------------


def test_unicode_engine_boundary():
    """Pins the measured cross-engine Unicode boundary (r10 probe): Spark
    (JVM/ICU) applies FULL Unicode case mapping — length-changing and
    context-sensitive — while DuckDB (utf8proc) applies the simple 1:1
    mapping; and DuckDB's levenshtein counts BYTES where Spark counts
    codepoints. No SQL oracle can replay Spark's behavior on these
    classes, so the verification contract for the string surface
    (q25/q25b/q58) is scoped to the simple-mapping single-byte domain —
    which the driver corpus satisfies (next test). If either engine
    changes its tables, this test tells us the documented boundary moved."""
    import duckdb

    from fs2_kafka_streams_spark.session import get_spark

    spark = get_spark()
    row = spark.sql(
        "SELECT upper('ß'), lower('İ'), lower('ΣΟΦΟΣ'), "
        "levenshtein('ΣΟΦΟΣ', 'sofa')"
    ).collect()[0]
    assert tuple(row) == ("SS", "i̇", "σοφος", 5), tuple(row)
    drow = duckdb.sql(
        "SELECT upper('ß'), lower('İ'), lower('ΣΟΦΟΣ'), "
        "levenshtein('ΣΟΦΟΣ', 'sofa')"
    ).fetchone()
    assert drow == ("ẞ", "i", "σοφοσ", 10), drow


def test_driver_corpus_in_agreed_string_domain():
    """The string-surface oracles (upper/lower/levenshtein/initcap) are
    hash-verified, so their input columns must stay inside the domain
    where the engines agree: ASCII. Checks every string column those
    entries read, at the correctness-gate scale factor."""
    import duckdb

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for table, cols in [
            ("customer", ["c_name", "c_mktsegment"]),
            ("supplier", ["s_name"]),
            ("orders", ["o_orderstatus", "o_orderpriority"]),
        ]:
            for c in cols:
                n = duckdb.sql(
                    f"SELECT count(*) FROM read_parquet('{sf}/{table}.parquet')"
                    f" WHERE {c} IS NOT NULL AND NOT regexp_matches({c}, '^[\\x00-\\x7F]*$')"
                ).fetchone()[0]
                assert n == 0, (sf, table, c, n)


# ---------------------------------------------------------------------------
# r10 cold review of queries/windows.py + catalog.py — both CLEAN; the two
# boundary hypotheses the review raised were probed and REFUTED, so the
# agreements are pinned here to keep them facts rather than luck.
# ---------------------------------------------------------------------------


def test_session_window_exact_gap_boundary_agrees(spark):
    """q35's oracle spells `gap > INTERVAL '30 minutes'` for a new session.
    Probe (this review): Spark's `session_window` MERGES two events exactly
    30 minutes apart — the session extends to last-event + gap, and an event
    landing exactly on that closed end joins the session — so strict `>` is
    the correct oracle spelling. If Spark ever flips to half-open session
    ends, this pin fails before the sf-corpus hash does."""
    import duckdb

    df = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:30:00")],
        "user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(out) == 1 and out[0].n == 2, out
    assert str(out[0].w.end) == "2024-01-01 01:00:00", out

    got = duckdb.sql(
        """
        WITH gaps AS (
          SELECT ts, CASE WHEN ts - lag(ts) OVER (ORDER BY ts)
                               > INTERVAL '30 minutes'
                          OR lag(ts) OVER (ORDER BY ts) IS NULL
                     THEN 1 ELSE 0 END AS is_new
          FROM (VALUES (TIMESTAMP '2024-01-01 00:00:00'),
                       (TIMESTAMP '2024-01-01 00:30:00')) t(ts))
        SELECT count(DISTINCT sid) FROM (
          SELECT sum(is_new) OVER (ORDER BY ts) AS sid FROM gaps)
        """
    ).fetchone()[0]
    assert got == 1, got


def test_nanos_to_micros_truncation_agrees_pre_epoch(tmp_path):
    """catalog.py converts raw nanos with `div 1000`, which truncates toward
    zero; probe (this review): DuckDB's TIMESTAMP_NS→TIMESTAMP cast ALSO
    truncates toward zero, so pre-1970 timestamps with sub-microsecond
    residue land on the SAME microsecond on both engines (e.g. -1500 ns →
    23:59:59.999999, -1 ns → 00:00:00.000000). Floor-division on either
    side would shift pre-epoch rows by one microsecond and split
    window/groupBy buckets."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.session import get_spark

    ns_vals = [-1500, -999, -1, 0, 1, 999, 1500, -(86400 * 10**9) - 1]
    p = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(ns_vals, type=pa.timestamp("ns"))}), p
    )
    spark_rows = sorted(
        str(r.ts)
        for r in Catalog(get_spark(), str(tmp_path)).events.collect()
    )
    duck_rows = sorted(
        str(r[0])
        for r in duckdb.sql(
            f"SELECT CAST(ts AS TIMESTAMP) FROM read_parquet('{p}')"
        ).fetchall()
    )
    assert spark_rows == duck_rows, (spark_rows, duck_rows)


# ---------------------------------------------------------------------------
# r10 NULL-event_id TIE axis — third hostile-corpus sweep over the id column:
# NULL-id rows duplicating an existing (user_id, ts) pair, so tie-break
# ORDER (not just grouping) decides results; plus a user whose ONLY write
# has a NULL id, and a record with NULL key AND NULL id.
#
# The sweep found 6 divergences/crashes, all latent on clean data:
# - ASC `event_id` orderings: Spark windows default NULLS FIRST, DuckDB
#   NULLS LAST — q53's lead(valid_to), q55's lag sequence and q63's lead
#   duration flipped on tied-ts NULL-id rows (oracles now spell NULLS
#   FIRST; q71's min_by struct ordering = NULLS FIRST likewise).
# - q56's segment split (event_id <= split / > split) stranded NULL-id
#   rows in NEITHER segment — a key whose only write is unkeyed vanished.
# - the wire source crashed (int(NaN)) building the payload; the CEP folds
#   crashed carrying a NULL-id base into state, and their id-ffill design
#   skipped a NULL-id base's id while taking its ts (incoherent base
#   attribution on BOTH engines) — base refs now travel as one unit
#   (row-position tracking in pandas, struct carry in the oracles/twins).
#
# Contract pinned here: a NULL event_id is an unkeyed record whose id is
# PAYLOAD — it orders first among ASC window ties / last in the pandas-
# sorted CEP folds (each oracle spells its engine-half's measured order),
# participates in every fold, and rides every wire/stream path in-band.
# The file-replay harness's hash-bucket split alone rejects NULL ids
# loudly (test_replay_null_ids_raise_not_vanish) — sort-based splits and
# the wire source are total.
# ---------------------------------------------------------------------------

NULL_ID_TIE_ENTRIES = [
    "q53_scd_history",
    "q55_event_transitions",
    "q56_incremental_upsert",
    "q63_time_weighted_avg",
    "q71_resample_ohlc",
    "q67_python_datasource",
    "q57_stream_pattern_match",
    "q57b_stream_pattern_tws_timers",
    "q59_stream_funnel_match",
]


@pytest.fixture(scope="session")
def null_id_ties_sf_dir(tmp_path_factory):
    """sf0.001 with NULL-event_id rows at TIED (user_id, ts) positions."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnullidtie")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "events.parquet":
            shutil.copy(os.path.join(src, f), d / f)
    e = pd.read_parquet(os.path.join(src, "events.parquet"))
    picks = e.sort_values(["user_id", "ts"]).groupby("user_id").head(1).head(3)
    rows = []
    for _, r in picks.iterrows():
        # NULL id duplicating an existing (user_id, ts) with a REAL
        # event_type — exercises type-grouped tie-breaks (q71's open)
        rows.append(dict(
            event_id=None, ts=r["ts"], user_id=r["user_id"],
            event_type=r["event_type"],
            value=float(r["value"] or 0) + 0.5, props=r["props"],
        ))
    rows.append(dict(  # a user whose ONLY write is unkeyed (q56's hole)
        event_id=None, ts=e["ts"].max() + pd.Timedelta(minutes=3),
        user_id=int(e["user_id"].max()) + 1, event_type="view",
        value=1.25, props=e["props"].iloc[0],
    ))
    rows.append(dict(  # NULL key AND NULL id (wire round-robin last resort)
        event_id=None, ts=e["ts"].max() + pd.Timedelta(minutes=4),
        user_id=None, event_type="click", value=0.75,
        props=e["props"].iloc[1],
    ))
    extra = pd.DataFrame(rows)
    extra["event_id"] = extra["event_id"].astype("Int64")
    extra["user_id"] = extra["user_id"].astype("Int64")
    e2 = pd.concat([e, extra], ignore_index=True)
    e2["event_id"] = e2["event_id"].astype("Int64")
    e2["user_id"] = e2["user_id"].astype("Int64")
    e2["ts"] = e2["ts"].astype("datetime64[us]")
    e2.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", NULL_ID_TIE_ENTRIES)
def test_null_id_tie_contract(spark, null_id_ties_sf_dir, name):
    """Every entry the NULL-id-tie sweep flagged (and the CEP family that
    crashed) hash-matches its oracle on the tie-bearing corpus — the same
    driver-gate canonicalize-and-hash as the earlier axes."""
    specs = load_all()
    if name not in specs:  # q57b exists only where TWS's protobuf does
        pytest.skip(f"{name} not registered in this environment")
    assert driver_gate(spark, null_id_ties_sf_dir, specs[name])


def test_wire_source_null_id_in_band(spark, null_id_ties_sf_dir):
    """NULL event_ids ride the wire as json null payload fields (the id is
    value data, not a broker field): no record vanishes, decode rebuilds
    NULL ids, and the key-and-id-less record still lands on a
    deterministic partition (file-row-position round-robin)."""
    from fs2_kafka_streams_spark.sources.python_source import (
        decode_wire,
        read_wire,
    )

    wire = read_wire(spark, null_id_ties_sf_dir, table="events", partitions=4)
    wdf = wire.toPandas()
    want = pd.read_parquet(
        os.path.join(null_id_ties_sf_dir, "events.parquet")
    )
    assert len(wdf) == len(want), "no record may vanish from the topic"
    got = decode_wire(wire).toPandas()
    assert int(got["event_id"].isna().sum()) == int(
        want["event_id"].isna().sum()
    )
    # the both-NULL record arrived exactly once, with its payload intact
    bn = got[got["event_id"].isna() & got["user_id"].isna()]
    assert len(bn) == 1 and float(bn["value"].iloc[0]) == 0.75


# ---------------------------------------------------------------------------
# r10 far-date axis — event times at the calendar extremes (2262, 1950,
# 1677) plus a DST-gap wall time, swept under TZ=America/New_York. 144/146
# specs green with zero fixes; the two divergences shared one cause, now
# encoded in the oracles: Spark's INITIAL watermark is epoch 0 ms, not
# -infinity, so a pre-1970 event time is late-by-construction in every
# watermarked stateful op (q36's trajectory model now floors at epoch;
# q48/q72's oracles filter ts >= epoch on both join inputs).
# ---------------------------------------------------------------------------

FAR_DATE_ENTRIES = [
    "q36_watermark_late_drop",
    "q48_stream_stream_join",
    "q72_stream_outer_join",
    "q33_time_windows",      # unwatermarked window family: no floor
    "q63_time_weighted_avg",  # pre-epoch durations are plain integers
]


@pytest.fixture(scope="session")
def far_date_sf_dir(tmp_path_factory):
    """sf0.001 plus far-future (2262), pre-epoch (1950, 1677) and
    DST-gap (2024-03-10 02:30 wall) event times."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sffardate")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "events.parquet":
            shutil.copy(os.path.join(src, f), d / f)
    e = pd.read_parquet(os.path.join(src, "events.parquet"))
    mx = int(e["event_id"].max())
    uid = int(e["user_id"].iloc[0])
    extra = pd.DataFrame([
        dict(event_id=mx + 1, ts=pd.Timestamp("2262-04-11T00:00:00"),
             user_id=uid, event_type="view", value=1.0,
             props=e["props"].iloc[0]),
        dict(event_id=mx + 2, ts=pd.Timestamp("1950-06-01T12:00:00"),
             user_id=uid, event_type="click", value=2.0,
             props=e["props"].iloc[0]),
        dict(event_id=mx + 3, ts=pd.Timestamp("1677-09-22T00:00:00"),
             user_id=uid, event_type="view", value=3.0,
             props=e["props"].iloc[0]),
        dict(event_id=mx + 4, ts=pd.Timestamp("2024-03-10T02:30:00"),
             user_id=uid, event_type="purchase", value=4.0,
             props=e["props"].iloc[0]),
    ])
    e2 = pd.concat([e, extra], ignore_index=True)
    e2["ts"] = e2["ts"].astype("datetime64[us]")
    e2.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", FAR_DATE_ENTRIES)
def test_far_date_contract(spark, far_date_sf_dir, name):
    """The watermarked entries (and two far-date-sensitive controls)
    hash-match their oracles on the calendar-extreme corpus."""
    assert driver_gate(spark, far_date_sf_dir, load_all()[name])


def test_watermark_epoch_floor_boundary(spark, tmp_path):
    """Pins the engine fact itself: a watermarked streaming aggregation
    DROPS a pre-epoch event time even in the very first micro-batch (the
    initial watermark is 0 ms, not -infinity), while the same aggregation
    without a watermark keeps it. If Spark ever starts watermarks at
    -infinity, this pin moves before any sf-corpus hash does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "in"
    d.mkdir()
    t = pa.table({
        "ts": pa.array(
            [pd.Timestamp("1950-06-01T12:00:00"),
             pd.Timestamp("2024-01-01T00:00:00")],
            type=pa.timestamp("us"),
        ),
        "k": pa.array([1, 2], type=pa.int64()),
    })
    pq.write_table(t, str(d / "f0.parquet"))
    from pyspark.sql import functions as SF

    src = (
        spark.readStream.schema("ts timestamp, k long")
        .parquet(str(d))
        .withWatermark("ts", "10 minutes")
        .groupBy(SF.window("ts", "5 minutes"))
        .count()
    )
    q = (
        src.writeStream.outputMode("append").format("memory")
        .queryName("wm_floor_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("wm_floor_probe").toPandas()
    # only the 2024 window could ever emit; the 1950 row must be dropped
    # (and the 2024 window itself is withheld: final watermark stops
    # 10 minutes before it) — so the emitted set is exactly empty, while
    # the batch aggregation sees both rows
    assert len(got) == 0, got
    bdf = spark.read.parquet(str(d)).groupBy(
        SF.window("ts", "5 minutes")
    ).count().toPandas()
    assert len(bdf) == 2


# ---------------------------------------------------------------------------
# r10 non-finite TPCH axis (second half) — NaN / ±inf / ±1e308 / -0.0 /
# 5e-324 in the MONEY columns (l_quantity, l_extendedprice, l_discount,
# l_tax, o_totalprice, c_acctbal, p_retailprice, s_acctbal). The first-half
# extreme-numerics sweep covered only events.value.
#
# The sweep found one jagged engine boundary underneath 27 entries:
# Spark's ANSI double→decimal cast silently NULLs NaN/±inf but throws
# NUMERIC_VALUE_OUT_OF_RANGE on finite overflow, while DuckDB throws on
# all three — so whether an entry crashed, crashed on one engine only, or
# hash-diverged depended on WHICH hostile value reached the cast first.
# Resolution: the events measure-domain policy (abs(x) < 1e14, else NULL)
# now rides inside dec2()/sql_dec2() and every money-column scalar path:
# - canonical.dec2 / sql_dec2 / sql_dsum / sql_davg / SQL_REVENUE guard
#   uniformly (davg counts the GUARDED value so the mean's denominator
#   matches its numerator);
# - q27's ceil/floor/ln/sqrt ride measure() with explicit positivity
#   guards (Spark's ln NULLs non-positive input, DuckDB's raises);
# - q29c's array elements are measure-guarded at collect time (BIGINT
#   casts inside HOFs saturate/throw divergently), and the empty-array
#   rendering coalesces ('' on both engines — DuckDB's
#   array_to_string([]) is NULL, Spark's array_join([]) is '');
# - q39's pandas bucket UDF and q40's Arrow/pandas min-max normalizers
#   mask out-of-domain prices to NULL (pyarrow min/max NaN semantics
#   diverge from SQL window min/max);
# - q61's histogram buckets on the measure view (Spark floor(inf)
#   saturates to int64-max then overflows the INT cast).
# ---------------------------------------------------------------------------

NONFINITE_TPCH_ENTRIES = [
    "q02_filter_project",
    "q11_join_range",
    "q13_agg_tpch_q1",
    "q13c_stats_aggregates",
    "q16_rollup_cube",
    "q16c_pivot_map",
    "q20_window_analytic_value",
    "q21_window_range_frame",
    "q26_date_math_functions",
    "q29_array_hof_agg",
    "q29c_array_hof",
    "q39_udf_pandas",
    "q40_udaf_grouped_map",
    "q49_subqueries",
    "q61_histogram",
    "q68_salted_join",
    "q74_observe_metrics",
]


@pytest.fixture(scope="session")
def nonfinite_tpch_sf_dir(tmp_path_factory):
    """sf0.001 with non-finite / overflow / signed-zero / subnormal money
    values appended to the five relational tables, join keys valid so the
    rows flow through every join (schema-preserving pyarrow append)."""
    import datetime as dt
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnonfinite")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), d / f)

    def append(table_name, rows):
        t = pq.read_table(os.path.join(src, f"{table_name}.parquet"))
        cols = {f.name: [r.get(f.name) for r in rows] for f in t.schema}
        extra = pa.table(
            {f.name: pa.array(cols[f.name], type=f.type) for f in t.schema},
            schema=t.schema,
        )
        pq.write_table(
            pa.concat_tables([t, extra]), str(d / f"{table_name}.parquet")
        )

    D = dt.datetime.fromisoformat
    NAN, INF = float("nan"), float("inf")
    append("orders", [
        dict(o_orderkey=910001, o_custkey=1, o_orderstatus="O",
             o_totalprice=NAN, o_orderdate=D("1996-01-02"),
             o_orderpriority="1-URGENT"),
        dict(o_orderkey=910002, o_custkey=2, o_orderstatus="F",
             o_totalprice=INF, o_orderdate=D("1995-03-15"),
             o_orderpriority="2-HIGH"),
        dict(o_orderkey=910003, o_custkey=3, o_orderstatus="O",
             o_totalprice=-INF, o_orderdate=D("1997-06-01"),
             o_orderpriority="3-MEDIUM"),
        dict(o_orderkey=910004, o_custkey=4, o_orderstatus="P",
             o_totalprice=-0.0, o_orderdate=D("1996-07-04"),
             o_orderpriority="4-NOT SPECIFIED"),
        dict(o_orderkey=910005, o_custkey=5, o_orderstatus="O",
             o_totalprice=1e308, o_orderdate=D("1994-11-11"),
             o_orderpriority="5-LOW"),
    ])
    li = []
    vals = [NAN, INF, -INF, 1e308, -1e308, -0.0, 5e-324]
    for i, v in enumerate(vals):
        li.append(dict(
            l_orderkey=910001 + (i % 5), l_partkey=1 + i,
            l_suppkey=1 + (i % 3), l_linenumber=1 + i, l_quantity=v,
            l_extendedprice=v, l_discount=0.05, l_tax=0.02,
            l_returnflag="N", l_linestatus="O", l_shipdate=D("1996-03-13"),
        ))
    li.append(dict(
        l_orderkey=1, l_partkey=2, l_suppkey=2, l_linenumber=91,
        l_quantity=10.0, l_extendedprice=100.0, l_discount=NAN, l_tax=INF,
        l_returnflag="A", l_linestatus="F", l_shipdate=D("1995-09-09"),
    ))
    li.append(dict(
        l_orderkey=1, l_partkey=3, l_suppkey=3, l_linenumber=92,
        l_quantity=-0.0, l_extendedprice=-INF, l_discount=-0.0, l_tax=NAN,
        l_returnflag="R", l_linestatus="F", l_shipdate=D("1994-02-02"),
    ))
    append("lineitem", li)
    append("customer", [
        dict(c_custkey=910001, c_name="Customer#nan", c_nationkey=1,
             c_acctbal=NAN, c_mktsegment="BUILDING"),
        dict(c_custkey=910002, c_name="Customer#inf", c_nationkey=2,
             c_acctbal=INF, c_mktsegment="AUTOMOBILE"),
        dict(c_custkey=910003, c_name="Customer#neg0", c_nationkey=3,
             c_acctbal=-0.0, c_mktsegment="MACHINERY"),
    ])
    append("part", [
        dict(p_partkey=910001, p_name="nonfinite part", p_brand="Brand#13",
             p_type="ECONOMY ANODIZED STEEL", p_size=7, p_retailprice=INF),
    ])
    append("supplier", [
        dict(s_suppkey=910001, s_name="Supplier#nan", s_nationkey=1,
             s_acctbal=NAN),
    ])
    return str(d)


@pytest.mark.parametrize("name", NONFINITE_TPCH_ENTRIES)
def test_nonfinite_tpch_contract(spark, nonfinite_tpch_sf_dir, name):
    """Every entry the non-finite money sweep flagged hash-matches its
    oracle on the hostile corpus — same driver-gate canonicalize-and-hash
    as the NULL-TPCH / events axes. (Full-registry confirmation: 146/146
    via scripts/hostile_sweep.py on this corpus.)"""
    assert driver_gate(spark, nonfinite_tpch_sf_dir, load_all()[name])


def test_double_to_decimal_engine_boundary(spark):
    """The jagged boundary the guard exists for, pinned executable:
    Spark's ANSI double→decimal silently NULLs NaN/±inf but THROWS on
    finite overflow; DuckDB throws on all three. If either engine ever
    changes this (making the guard removable or insufficient), this
    test says so."""
    import duckdb

    for v, expect in [(float("nan"), None), (float("inf"), None)]:
        got = spark.createDataFrame([(v,)], "x double").select(
            F.col("x").cast("decimal(18,2)").alias("d")
        ).collect()[0][0]
        assert got is expect, (v, got)
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        spark.createDataFrame([(1e308,)], "x double").select(
            F.col("x").cast("decimal(18,2)")
        ).collect()

    con = duckdb.connect()
    for v in ["'nan'::DOUBLE", "'inf'::DOUBLE", "1e308"]:
        with pytest.raises(Exception):
            con.sql(f"SELECT CAST({v} AS DECIMAL(18,2))").fetchall()

    # and the guarded form is total on BOTH engines
    from fs2_kafka_streams_spark.canonical import dec2, sql_dec2

    got = spark.createDataFrame(
        [(float("nan"),), (float("inf"),), (1e308,), (12.34,)], "x double"
    ).select(dec2("x").alias("d")).collect()
    assert [r.d for r in got[:3]] == [None, None, None]
    assert float(got[3].d) == 12.34
    rows = con.sql(
        "SELECT " + sql_dec2("x") + " FROM (VALUES ('nan'::DOUBLE), "
        "('inf'::DOUBLE), (1e308), (12.34)) t(x)"
    ).fetchall()
    assert [r[0] for r in rows[:3]] == [None, None, None]
    assert float(rows[3][0]) == 12.34


# ---------------------------------------------------------------------------
# r10 non-finite / ill-formed VECTOR axis — NaN, ±inf, float32-overflow
# (1e38), NULL-vector, NULL-element, and wrong-dimension rows in
# embeddings. The sweep crashed all six oracled similarity entries three
# ways: ragged numpy stacks in the signature matmul (wrong dim), ANSI
# int64 overflow in the quantized dot (1e38 elements), and PythonException
# / NaN-ordered top-k divergence (NaN/±inf elements).
#
# Resolution: the WELL-FORMED VECTOR contract
# (operators/similarity.well_formed_vectors + sql_well_formed_vectors) —
# non-NULL vector, declared dim, every element non-NULL with
# |x| <= EMB_BOUND (=100; keeps the micro-unit dot exact in int64 to
# dim ≈ 900). Ill-formed vectors are excluded from the similarity family
# like NULL text is from the text family, identically on both engines
# (queries/llm._emb + _WF_SQL in every embedding oracle).
# ---------------------------------------------------------------------------

NANVEC_ENTRIES = [
    "q44_cosine_topk",
    "q44b_lsh_ann_neardup",
    "q44c_embedding_neardup",
    "q44e_ivf_ann",
    "q54_semantic_dedup",
]


@pytest.fixture(scope="session")
def nanvec_sf_dir(tmp_path_factory):
    """sf0.001 with six ill-formed embedding rows: NaN element, +inf
    element, -inf element, 1e38 elements (finite float32, int64-dot
    overflow), NULL vector, wrong-dimension vector — plus a NULL-ELEMENT
    vector appended via pyarrow (pandas float32 arrays cannot carry
    None)."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfnanvec")
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            shutil.copy(os.path.join(src, f), d / f)
    emb = pd.read_parquet(os.path.join(src, "embeddings.parquet"))
    dim = len(emb.embedding.iloc[0])
    mxv = int(emb.vec_id.max())
    v_nan = np.ones(dim, dtype=np.float32); v_nan[3] = np.nan
    v_inf = np.ones(dim, dtype=np.float32); v_inf[0] = np.inf
    v_ninf = np.ones(dim, dtype=np.float32); v_ninf[1] = -np.inf
    extra = pd.DataFrame([
        dict(vec_id=mxv + 1, embedding=v_nan, label=0),
        dict(vec_id=mxv + 2, embedding=v_inf, label=1),
        dict(vec_id=mxv + 3, embedding=v_ninf, label=2),
        dict(vec_id=mxv + 4,
             embedding=np.full(dim, 1e38, dtype=np.float32), label=3),
        dict(vec_id=mxv + 5, embedding=None, label=4),
        dict(vec_id=mxv + 6,
             embedding=np.ones(3, dtype=np.float32), label=5),
    ])
    e2 = pd.concat([emb, extra], ignore_index=True)
    e2["label"] = e2["label"].astype("int32")
    out = str(d / "embeddings.parquet")
    e2.to_parquet(out, index=False)
    t = pq.read_table(out)
    null_el = pa.table({
        "vec_id": pa.array([mxv + 7], type=t.schema.field("vec_id").type),
        "embedding": pa.array(
            [[None if i == 5 else 1.0 for i in range(dim)]],
            type=t.schema.field("embedding").type,
        ),
        "label": pa.array([6], type=t.schema.field("label").type),
    })
    pq.write_table(pa.concat_tables([t, null_el]), out)
    return str(d)


def test_well_formed_vectors_classification(spark, nanvec_sf_dir):
    """The predicate excludes EXACTLY the seven ill-formed rows, on both
    engines (the SQL mirror must flag NULL elements explicitly — a NULL
    list_filter predicate would silently pass them)."""
    import duckdb

    from fs2_kafka_streams_spark.operators.similarity import (
        sql_well_formed_vectors,
        well_formed_vectors,
    )

    df = spark.read.parquet(f"{nanvec_sf_dir}/embeddings.parquet")
    total = df.count()
    ok_spark = df.filter(well_formed_vectors("embedding", 64)).count()
    assert ok_spark == total - 7

    con = duckdb.connect()
    n = con.sql(
        f"SELECT count(*) FROM read_parquet("
        f"'{nanvec_sf_dir}/embeddings.parquet') "
        f"WHERE {sql_well_formed_vectors('embedding', 64)}"
    ).fetchone()[0]
    assert n == ok_spark


@pytest.mark.parametrize("name", NANVEC_ENTRIES)
def test_nanvec_similarity_contract(spark, nanvec_sf_dir, name):
    """Every oracled similarity entry hash-matches its oracle on the
    ill-formed-vector corpus (full family confirmation: 8/8 via
    scripts/hostile_sweep.py, including the NULL-element row)."""
    assert driver_gate(spark, nanvec_sf_dir, load_all()[name])


# ---------------------------------------------------------------------------
# r10 relational far-date / Unicode-name axis — calendar extremes
# (2262/1677 ns bounds, pre-epoch, leap day, ISO-week boundary) in
# orders/lineitem dates plus hostile Unicode (emoji, dotted-capital İ,
# combining accents, CJK, empty string, ß) in customer/part names. The
# earlier far-date sweep covered only events.ts; the Unicode axis only
# documents.
#
# Sweep: 141/146 green. Findings:
# - q14/q26: date_trunc('month', 1677-09-22) = 1677-09-01 lies BELOW the
#   parquet-ns floor — Spark's Arrow collection (timestamp us→ns) crashes
#   while DuckDB is fine. Truncated months now ride as DATE (date32, no
#   ns bound; also process-TZ-independent, which is what the previous
#   NTZ cast existed for).
# - q25: upper('Customer#straße') diverges ('STRASSE' vs 'STRAẞE') —
#   EXACTLY the pinned case-mapping engine boundary
#   (test_unicode_engine_boundary); with the single ß row removed the
#   whole string surface is hash-green on emoji/İ/combining/CJK/empty,
#   so the boundary is precisely the case-mapping class, nothing wider.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="session")
def reldates_sf_dir(tmp_path_factory):
    """sf0.001 with far/odd dates in orders/lineitem and hostile Unicode
    in customer/part names (ß EXCLUDED — it sits on the documented
    case-mapping boundary; its divergence is pinned separately)."""
    import datetime as dt
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sfreldates")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), d / f)

    def append(table_name, rows):
        t = pq.read_table(os.path.join(src, f"{table_name}.parquet"))
        cols = {f.name: [r.get(f.name) for r in rows] for f in t.schema}
        extra = pa.table(
            {f.name: pa.array(cols[f.name], type=f.type) for f in t.schema},
            schema=t.schema,
        )
        pq.write_table(
            pa.concat_tables([t, extra]), str(d / f"{table_name}.parquet")
        )

    D = dt.datetime.fromisoformat
    append("orders", [
        dict(o_orderkey=920001, o_custkey=1, o_orderstatus="O",
             o_totalprice=111.11, o_orderdate=D("2262-04-11"),
             o_orderpriority="1-URGENT"),
        dict(o_orderkey=920002, o_custkey=2, o_orderstatus="F",
             o_totalprice=222.22, o_orderdate=D("1677-09-22"),
             o_orderpriority="2-HIGH"),
        dict(o_orderkey=920003, o_custkey=3, o_orderstatus="O",
             o_totalprice=333.33, o_orderdate=D("1950-06-15"),
             o_orderpriority="3-MEDIUM"),
        dict(o_orderkey=920004, o_custkey=4, o_orderstatus="P",
             o_totalprice=444.44, o_orderdate=D("2000-02-29"),
             o_orderpriority="4-NOT SPECIFIED"),
        dict(o_orderkey=920005, o_custkey=5, o_orderstatus="O",
             o_totalprice=555.55, o_orderdate=D("1999-12-31"),
             o_orderpriority="5-LOW"),
    ])
    append("lineitem", [
        dict(l_orderkey=920001, l_partkey=1, l_suppkey=1, l_linenumber=1,
             l_quantity=1.0, l_extendedprice=10.0, l_discount=0.0,
             l_tax=0.0, l_returnflag="N", l_linestatus="O",
             l_shipdate=D("2262-04-11")),
        dict(l_orderkey=920002, l_partkey=2, l_suppkey=2, l_linenumber=1,
             l_quantity=2.0, l_extendedprice=20.0, l_discount=0.0,
             l_tax=0.0, l_returnflag="A", l_linestatus="F",
             l_shipdate=D("1677-09-22")),
        dict(l_orderkey=920003, l_partkey=3, l_suppkey=3, l_linenumber=1,
             l_quantity=3.0, l_extendedprice=30.0, l_discount=0.0,
             l_tax=0.0, l_returnflag="R", l_linestatus="F",
             l_shipdate=D("1969-12-31")),
    ])
    append("customer", [
        dict(c_custkey=920001, c_name="Customer#Ω≠ASCII 🦜", c_nationkey=1,
             c_acctbal=10.0, c_mktsegment="BUILDING"),
        dict(c_custkey=920002, c_name="Customer#İstanbul", c_nationkey=2,
             c_acctbal=20.0, c_mktsegment="AUTOMOBILE"),
        dict(c_custkey=920003, c_name="Customer#éclair", c_nationkey=3,
             c_acctbal=30.0, c_mktsegment="MACHINERY"),
        dict(c_custkey=920004, c_name="", c_nationkey=4, c_acctbal=40.0,
             c_mktsegment="HOUSEHOLD"),
    ])
    append("part", [
        dict(p_partkey=920001, p_name="πart 日本語 part", p_brand="Brand#Ω",
             p_type="PROMO 🦜 STEEL", p_size=1, p_retailprice=100.0),
    ])
    return str(d)


RELDATES_ENTRIES = [
    "q14_count_distinct",
    "q25_string_hash_functions",
    "q26_date_math_functions",
    "q33_time_windows",
]


@pytest.mark.parametrize("name", RELDATES_ENTRIES)
def test_reldates_unicode_contract(spark, reldates_sf_dir, name):
    """Date-function / string-surface entries hash-match their oracles on
    the far-date + Unicode-name corpus (full-registry confirmation:
    141/146 via scripts/hostile_sweep.py; the 5 exceptions were the q14/
    q26 Arrow ns-floor crash fixed here and the pinned ß case-mapping
    boundary)."""
    assert driver_gate(spark, reldates_sf_dir, load_all()[name])


def test_month_trunc_below_ns_floor_collects(spark, reldates_sf_dir):
    """The specific crash the axis found, pinned: a truncated month below
    the parquet-ns floor must survive Arrow collection (DATE output), and
    the 1677-09-22 ship date must land in bucket 1677-09-01."""
    sdf = (
        load_all()["q14_count_distinct"]
        .build(spark, reldates_sf_dir)
        .toPandas()
    )
    assert str(sdf.ship_month.min())[:10] == "1677-09-01"


# ---------------------------------------------------------------------------
# r10 tiny-corpus axis — every table truncated to its first 5 rows. The
# degenerate-smallness regime (1-row groups, corpus < k, corpus < nlist)
# found four latent divergences:
#
# - q13c/q13b-merge: sample variance with an n=1 group — ANSI Spark threw
#   DIVIDE_BY_ZERO on (n-1) while DuckDB silently yielded a value; both
#   engines now spell the undefinedness explicitly (n > 1 guard → NULL).
# - q15b: the 5%-tolerance claim compared the sketch to the INTERPOLATED
#   median, which a 2-row group interpolates to a value no sketch can
#   return — spurious false. The yardstick is now the exact DISCRETE
#   median (approx_percentile at int32-max accuracy), which the sketch
#   reproduces exactly below its compression threshold and matches to
#   well under 5% at scale.
# - q44e / ivf_topk: a corpus smaller than nlist raised ValueError where
#   the oracle returned rows. k-means cannot place more centroids than
#   points: the trainer now shrinks nlist to the corpus size and the
#   caller widens nprobe to all cells — exhaustive, exact at that scale.
#   The oracle's n_ivf bound is LEAST(k, corpus - 1).
# ---------------------------------------------------------------------------

TINY_ENTRIES = [
    "q13b_stats_percentiles",
    "q13c_stats_aggregates",
    "q15b_approx_percentile",
    "q44e_ivf_ann",
]


@pytest.fixture(scope="session")
def tiny_sf_dir(tmp_path_factory):
    """Every fixture table truncated to its first 5 rows."""
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sftiny")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(src, f))
            pq.write_table(t.slice(0, 5), str(d / f))
    return str(d)


@pytest.mark.parametrize("name", TINY_ENTRIES)
def test_tiny_corpus_contract(spark, tiny_sf_dir, name):
    """The four previously-diverging entries hash-match their oracles on
    the 5-row corpus (full-registry confirmation: 146/146 via
    scripts/hostile_sweep.py)."""
    assert driver_gate(spark, tiny_sf_dir, load_all()[name])


def test_ivf_degenerate_corpus_is_exhaustive(spark, tiny_sf_dir):
    """ivf_topk on a corpus smaller than nlist equals brute-force
    cosine_topk exactly (one centroid per vector, every cell probed)."""
    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = Catalog(spark, tiny_sf_dir).embeddings
    q = emb.limit(2)
    ivf = sorted(map(tuple, ivf_topk(emb, q, k=3, nlist=16, nprobe=4)
                     .select("query_id", "neighbor_id", "rank").collect()))
    ex = sorted(map(tuple, cosine_topk(emb, q, k=3)
                    .select("query_id", "neighbor_id", "rank").collect()))
    assert ivf == ex


def test_month_trunc_date_is_timezone_proof(spark, reldates_sf_dir):
    """The q14/q26 DATE months must be identical under any SESSION
    timezone (the property the replaced NTZ cast existed for, preserved
    by the DATE cast): same hash under UTC and a negative-offset zone.
    The process-TZ variant is the verify skill's TZ=America/New_York
    sweep — 83/83 green at this head."""
    from fs2_kafka_streams_spark.streaming.conf import pinned_conf

    spec = load_all()["q14_count_distinct"]
    hashes = []
    for tz in ("UTC", "America/New_York"):
        with pinned_conf(spark, {"spark.sql.session.timeZone": tz}):
            frame = spec.build(spark, reldates_sf_dir).toPandas()
            hashes.append(driver_hash(driver_canon(frame)))
    assert hashes[0] == hashes[1]
