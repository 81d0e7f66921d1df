"""Hostile-axis matrix for STREAMING replay inputs (r10 VERDICT Next #3).

The r10 robustness campaign swept the batch oracles over 12 hostile axes;
the streaming entries consumed hostile corpora only where an axis
happened to reach them. This module makes the streaming replay path a
first-class hostile surface: each axis is an events corpus differing
from the fixtures in ONE streaming-relevant way, and every oracled
streaming/stateful entry must hash-match its DuckDB oracle on it —
stream ≡ batch on hostile input, the same driver-gate compare as the
r10 axes.

Axes (each found or validated something):

- **all-duplicates events**: every row the same (user_id, ts, type,
  value, props), event_ids CYCLING so dedup sees true duplicates and
  every window tie-breaks on id. Found: q37's oracle silently assumed
  source event_ids are unique (fixed to DISTINCT).
- **NULL event-ids**: unkeyed rows at tied (user, ts) positions plus a
  user whose only write is unkeyed. Found: the hash-bucket replay's
  loud NULL-id rejection (r10) hid that all four stateful folds crashed
  on int(NaN) and that q36's trajectory model dropped NULL-id rows;
  the replay is now TOTAL (position-bucketed NULL ids) and the folds
  NULL-id-ordered like the batch half.
- **single-user (hot-key) events**: the reference's 4-hot-user fixture
  (``ReadOnlyTableSpec.scala:41-54``) taken to the limit — ALL state in
  one key/partition. Validated: zero divergences.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from fs2_kafka_streams_spark.queries import load_all
from fs2_kafka_streams_spark.testing import driver_gate

SRC = "/root/testdata/sf0.001"

# every oracled entry that executes a real streaming query (or the
# streaming-shape dedup) — the set the axes must hold for
STREAMING_ENTRIES = [
    "q33b_windows_streaming",
    "q36_watermark_late_drop",
    "q37_dedup",
    "q38_stateful_latest",
    "q38b_stateful_latest_tws",
    "q45_stream_table_join",
    "q46_stream_dedup",
    "q48_stream_stream_join",
    "q57_stream_pattern_match",
    "q57b_stream_pattern_tws_timers",
    "q59_stream_funnel_match",
    "q67_python_datasource",
    "q72_stream_outer_join",
    "q75_state_reader",
]

# the hot axis re-runs only the stateful/join subset (the skew-sensitive
# state shapes); the full-registry sweep on this axis ran green in r11
HOT_ENTRIES = [
    "q38_stateful_latest",
    "q48_stream_stream_join",
    "q57b_stream_pattern_tws_timers",
    "q72_stream_outer_join",
]


def _copy_base(d, skip=("events.parquet",)):
    import shutil

    for f in os.listdir(SRC):
        if f.endswith(".parquet") and f not in skip:
            shutil.copy(os.path.join(SRC, f), os.path.join(d, f))


@pytest.fixture(scope="session")
def alldup_events_dir(tmp_path_factory):
    """200 events, ALL the same (user_id, ts, event_type, value, props),
    event_ids cycling 0..49 — maximal tie pressure + true duplicates."""
    d = tmp_path_factory.mktemp("sfalldup")
    _copy_base(d)
    e = pd.read_parquet(os.path.join(SRC, "events.parquet"))
    n = 200
    dup = pd.DataFrame(
        {
            "event_id": pd.array([k % 50 for k in range(n)], dtype="int64"),
            "ts": pd.Series([e["ts"].iloc[0]] * n).astype("datetime64[us]"),
            "user_id": pd.array(
                [int(e["user_id"].iloc[0])] * n, dtype="int64"
            ),
            "event_type": [e["event_type"].iloc[0]] * n,
            "value": [float(e["value"].iloc[0])] * n,
            "props": [e["props"].iloc[0]] * n,
        }
    )
    dup.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.fixture(scope="session")
def nullid_events_dir(tmp_path_factory):
    """sf0.001 events plus NULL-event_id rows at tied (user_id, ts)
    positions and a user whose ONLY write is unkeyed."""
    d = tmp_path_factory.mktemp("sfnullidstream")
    _copy_base(d)
    e = pd.read_parquet(os.path.join(SRC, "events.parquet"))
    picks = (
        e.sort_values(["user_id", "ts"]).groupby("user_id").head(1).head(3)
    )
    rows = []
    for _, r in picks.iterrows():
        rows.append(
            dict(
                event_id=None,
                ts=r["ts"],
                user_id=r["user_id"],
                event_type=r["event_type"],
                value=float(r["value"] or 0) + 0.5,
                props=r["props"],
            )
        )
    rows.append(
        dict(
            event_id=None,
            ts=e["ts"].max() + pd.Timedelta(minutes=3),
            user_id=int(e["user_id"].max()) + 1,
            event_type="view",
            value=1.25,
            props=e["props"].iloc[0],
        )
    )
    extra = pd.DataFrame(rows)
    extra["event_id"] = extra["event_id"].astype("Int64")
    extra["user_id"] = extra["user_id"].astype("Int64")
    e2 = pd.concat([e, extra], ignore_index=True)
    e2["event_id"] = e2["event_id"].astype("Int64")
    e2["user_id"] = e2["user_id"].astype("Int64")
    e2["ts"] = e2["ts"].astype("datetime64[us]")
    e2.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.fixture(scope="session")
def hot_events_dir(tmp_path_factory):
    """Every event assigned to ONE user — all streaming state in one
    key (and one state-store partition)."""
    d = tmp_path_factory.mktemp("sfhotuser")
    _copy_base(d)
    e = pd.read_parquet(os.path.join(SRC, "events.parquet"))
    h = e.copy()
    h["user_id"] = int(e["user_id"].iloc[0])
    h["ts"] = h["ts"].astype("datetime64[us]")
    h.to_parquet(d / "events.parquet", index=False)
    return str(d)


def _assert_oracle_match(spark, sf_dir, name):
    assert driver_gate(spark, sf_dir, load_all()[name])


@pytest.mark.parametrize("name", STREAMING_ENTRIES)
def test_alldup_events_contract(spark, alldup_events_dir, name):
    """Stream ≡ batch oracle on the fully tied / duplicate-id corpus."""
    _assert_oracle_match(spark, alldup_events_dir, name)


@pytest.mark.parametrize("name", STREAMING_ENTRIES)
def test_nullid_events_contract(spark, nullid_events_dir, name):
    """Stream ≡ batch oracle with NULL event-ids in-band through every
    replay mode and all four stateful folds."""
    _assert_oracle_match(spark, nullid_events_dir, name)


@pytest.mark.parametrize("name", HOT_ENTRIES)
def test_hot_user_events_contract(spark, hot_events_dir, name):
    """Stream ≡ batch oracle with ALL state concentrated in one key."""
    _assert_oracle_match(spark, hot_events_dir, name)


def test_nullid_multiset_roundtrip(spark, nullid_events_dir):
    """The duality suite's core invariant (RecordStreamSpec.scala:102) on
    the NULL-id corpus: the total replay delivers exactly the source
    multiset — NULL-id rows neither vanish (the pre-r10 NaN%n bug) nor
    block the replay (the r10 loud rejection, now superseded)."""
    from fs2_kafka_streams_spark.streaming.replay import replay_dir
    from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA

    from tests.test_streaming_duality import _run_to_memory

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir(nullid_events_dir, "events"))
    )
    out = _run_to_memory(stream.select("event_id", "user_id", "value"))
    from fs2_kafka_streams_spark.catalog import Catalog

    src = Catalog(spark, nullid_events_dir).events.select(
        "event_id", "user_id", "value"
    )
    key = lambda r: (r[0] is not None, r[0] or 0, r[1] is not None, r[1] or 0, r[2])  # noqa: E731
    assert sorted(map(key, out.collect())) == sorted(
        map(key, src.collect())
    )


def test_alldup_multiset_roundtrip(spark, alldup_events_dir):
    """Multiset roundtrip on the all-duplicates corpus: 200 identical
    payloads with cycling ids survive the replay as exactly 200 rows."""
    from fs2_kafka_streams_spark.streaming.replay import replay_dir
    from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA

    from tests.test_streaming_duality import _run_to_memory

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir(alldup_events_dir, "events"))
    )
    out = _run_to_memory(stream.select("event_id"))
    got = sorted(r[0] for r in out.collect())
    assert got == sorted(k % 50 for k in range(200))


def test_bucketed_join_equals_plain(spark, hot_events_dir):
    """The skew escape hatch (stream_stream_join_bucketed: pairing work
    spread over (user_id, time-bucket) join keys, right side replicated
    into adjacent buckets) is EQUALITY-pinned against the plain q48 join
    on both the fixture and the single-user corpus — same multiset, no
    duplicated and no missed pairs (each in-range pair meets in exactly
    one replica bucket). Probe evidence: scripts/join_skew_probe.py +
    SCALE.md 'Stream-stream join skew'."""
    from fs2_kafka_streams_spark.queries.streaming_ext import (
        q48_stream_stream_join,
        stream_stream_join_bucketed,
    )

    for sf in (SRC, hot_events_dir):
        plain = sorted(map(tuple, q48_stream_stream_join(spark, sf).collect()))
        buck = sorted(
            map(tuple, stream_stream_join_bucketed(spark, sf).collect())
        )
        assert plain == buck, sf
