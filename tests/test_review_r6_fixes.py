"""Pins for the round-6 cold-file review findings: older query/operator
code paths the sf-data sweep exercises only on well-behaved inputs. Each
test reproduces the input class that used to crash, silently misclassify,
or silently degrade."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_q39_udfs_null_safe(spark):
    """A NULL o_totalprice used to raise inside the pandas UDF (NaN →
    non-nullable int64 cast) and a NULL o_orderstatus rendered as the
    *string* 'None-…' instead of SQL NULL. Both must mirror SQL
    NULL-propagation now."""
    import numpy as np

    @F.pandas_udf("long")
    def price_bucket(s: pd.Series) -> pd.Series:
        return pd.Series(np.floor(s / 50000)).astype("Int64")

    @F.udf("string")
    def tag(status: str, key: int) -> str:
        if status is None or key is None:
            return None
        return f"{status}-{key % 10}"

    df = spark.createDataFrame(
        [(1, 100000.0, "O"), (2, None, "F"), (3, 49999.0, None)],
        "k long, price double, status string",
    )
    rows = {
        r.k: (r.b, r.t)
        for r in df.select(
            "k",
            price_bucket("price").alias("b"),
            tag("status", "k").alias("t"),
        ).collect()
    }
    assert rows[1] == (2, "O-1")
    assert rows[2] == (None, "F-2")
    assert rows[3] == (0, None)


def test_dead_letter_split_classifies_like_json_valid(spark):
    """Good/bad must be decided by JSON *validity*, not presence of $.k:
    valid JSON without k is a good record (NULL metric), a NULL payload
    counts in neither bucket — exactly DuckDB's json_valid semantics the
    oracle uses. The old non-null-$.k classifier miscounted both."""
    df = spark.createDataFrame(
        [
            ('{"k": 3}',),      # good, k=3
            ('x{"k": 3}',),     # bad (leading garbage)
            ('{"j": 1}',),      # good, k NULL  (old code: bad)
            (None,),            # neither      (old code: bad)
        ],
        "payload string",
    )
    valid = F.try_parse_json("payload").isNotNull()
    out = df.agg(
        F.sum(F.when(valid, 1).otherwise(0)).alias("n_good"),
        F.sum(
            F.when(F.col("payload").isNotNull() & ~valid, 1).otherwise(0)
        ).alias("n_bad"),
        F.sum(
            F.when(valid, F.get_json_object("payload", "$.k").cast("int"))
        ).alias("sum_k"),
    ).collect()[0]
    assert (out.n_good, out.n_bad, out.sum_k) == (2, 1, 3)


def test_zorder_rejects_non_numeric_column(spark):
    """A string z-order column used to cast to all-NULL doubles: every
    z-bit of that dimension was 0 and pruning silently never improved.
    It must raise instead."""
    from fs2_kafka_streams_spark.operators.layout import zorder_code

    df = spark.createDataFrame(
        [("nyc", 1.0), ("sfo", 2.0)], "city string, x double"
    )
    with pytest.raises(TypeError, match="city"):
        zorder_code(df, ["city", "x"], bits_per_col=4)
    with pytest.raises(ValueError, match="not in DataFrame"):
        zorder_code(df, ["nope"], bits_per_col=4)


def test_latest_by_key_unique_order_equivalence(spark):
    """unique_order=True drops the value tie-break from the comparator;
    on tie-free order keys the result must be identical to the default
    (it only halves the aggregation state)."""
    from fs2_kafka_streams_spark.operators.latest_by_key import (
        latest_by_key,
    )

    rows = [
        (k, off, f"v{k}-{off}" * 20)
        for k in range(30)
        for off in range(7)
    ]
    df = spark.createDataFrame(rows, "k long, off long, payload string")
    base = {
        (r.k, r.off, r.payload)
        for r in latest_by_key(df, ["k"], ["off"]).collect()
    }
    fast = {
        (r.k, r.off, r.payload)
        for r in latest_by_key(
            df, ["k"], ["off"], unique_order=True
        ).collect()
    }
    assert base == fast and len(base) == 30


def test_q64_merge_property_holds_in_estimation_mode(spark):
    """q64's merge_consistent must be TRUE at sf0.1, where sketches leave
    exact coupon mode: the old check compared a HIP estimate to a
    composite estimate (1494 vs 1488 from identical registers) and went
    false even though the merge was correct. The fixed check routes both
    sides through the same two-input union so it compares registers."""
    from fs2_kafka_streams_spark.queries import load_all

    spec = load_all()["q64_hll_sketch_merge"]
    from tests.conftest import SF_BENCH

    rows = spec.build(spark, SF_BENCH).collect()
    assert len(rows) == 5
    assert all(r.merge_consistent for r in rows)
    assert all(r.est_within_5pct for r in rows)


def test_asof_join_null_keys_never_match(spark):
    """An equality join condition never matches NULL = NULL; the window
    realization used to group NULL keys into one partition and hand a
    NULL-key right payload to NULL-key left rows."""
    from fs2_kafka_streams_spark.operators.asof_join import asof_join

    left = spark.createDataFrame(
        [(1, None, 10.0), (2, "k1", 10.0)],
        "id long, k string, t double",
    )
    right = spark.createDataFrame(
        [(None, 5.0, "leak"), ("k1", 5.0, "ok")],
        "k string, rt double, payload string",
    )
    out = {
        r.id: r.payload
        for r in asof_join(
            left, right, "t", "rt", ["k"], ["k"]
        ).collect()
    }
    assert out == {1: None, 2: "ok"}


def test_apply_changes_prefix_split_is_order_column_safe(spark):
    """Splitting a changelog by a column NOT monotone in the merge order
    resurrects tombstoned keys (the old q56 shape: split by ts, merge by
    event_id). Splitting by the order column itself must equal the
    whole-log fold regardless of ts/event_id correlation."""
    from fs2_kafka_streams_spark.operators.incremental import apply_changes

    # key 7: live write at id 50 carries a LATE ts; tombstone at id 100
    # has an EARLY ts — a ts-based split puts the tombstone in seg1 (its
    # marker then dropped) and the live row in seg2, resurrecting key 7.
    rows = [
        (7, 50, 9.0, "w", False),
        (7, 100, 1.0, "w", True),
        (8, 60, 2.0, "w", False),
        (8, 110, 8.0, "w", False),
    ]
    log = spark.createDataFrame(
        rows, "k long, event_id long, ts double, v string, tomb boolean"
    )
    full = apply_changes(None, log, ["k"], "event_id", ["v"], "tomb")
    split = 75  # prefix in event_id order
    seg1 = log.filter(log.event_id <= split)
    seg2 = log.filter(log.event_id > split)
    snap = apply_changes(None, seg1, ["k"], "event_id", ["v"], "tomb")
    merged = apply_changes(snap, seg2, ["k"], "event_id", ["v"], "tomb")
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in full.collect()
    }
    assert {r.k for r in merged.collect()} == {8}


def test_json_field_failure_dead_letters(spark):
    """A well-formed JSON object whose field cannot convert to the declared
    type ('{"a":"xyz"}' for a int) used to decode as a phantom clean row
    with NULL fields and NULL error; it must dead-letter like CsvFormat.
    A merely-MISSING field stays clean — JSON objects are sparse."""
    from fs2_kafka_streams_spark.sources.decode import (
        DecodeRegistry,
        JsonFormat,
        clean_view,
        dead_letters,
    )

    records = spark.createDataFrame(
        [
            ("t", 0, 0, b'{"a": 1}'),
            ("t", 0, 1, b'{"a": "xyz"}'),   # field-level failure
            ("t", 0, 2, b'{"other": 9}'),   # missing field: clean, NULL a
            ("t", 0, 3, b"x{"),             # malformed
        ],
        "topic string, partition int, offset long, value binary",
    )
    reg = DecodeRegistry().register("t", JsonFormat("a int"))
    decoded = reg.decode(records)
    clean = {r.offset: r.a for r in clean_view(decoded).collect()}
    assert clean == {0: 1, 2: None}
    dlq = {r.offset: r.decode_error for r in dead_letters(decoded).collect()}
    assert set(dlq) == {1, 3}
    assert "field" in dlq[1] and "malformed json" in dlq[3]


def test_binary_format_null_payload_and_topic_gating(spark):
    """NULL payload → dead letter (uniform with JsonFormat), and in a
    mixed registry the binary decoder's input is topic-gated so other
    topics' rows reach the Python worker as NULL (fast-skipped) while
    still decoding through their own format."""
    from fs2_kafka_streams_spark.sources.decode import (
        BinaryFormat,
        DecodeRegistry,
        JsonFormat,
        clean_view,
        dead_letters,
    )

    def pipe(b: bytes) -> dict:
        uid, name = b.decode().split("|")
        return {"uid": int(uid), "name": name}

    records = spark.createDataFrame(
        [
            ("bin", 0, 0, b"7|bob"),
            ("bin", 0, 1, None),            # NULL payload → dead letter
            ("js", 0, 0, b'{"uid": 1, "name": "ann"}'),
        ],
        "topic string, partition int, offset long, value binary",
    )
    reg = (
        DecodeRegistry()
        .register("bin", BinaryFormat("uid long, name string", pipe))
        .register("js", JsonFormat("uid long, name string"))
    )
    decoded = reg.decode(records)
    clean = {
        (r.topic, r.uid): r.name for r in clean_view(decoded).collect()
    }
    assert clean == {("bin", 7): "bob", ("js", 1): "ann"}
    dlq = dead_letters(decoded).collect()
    assert len(dlq) == 1 and "null payload" in dlq[0].decode_error


def test_tws_cep_runner_cleans_its_checkpoint(spark, sf_dir):
    """The throwaway-checkpoint path must not leak a RocksDB tree per run
    (the leak run_to_memory exists to prevent)."""
    import glob
    import tempfile

    pytest.importorskip("google.protobuf")
    from fs2_kafka_streams_spark.streaming.cep import (
        pattern_match_stream_tws,
    )

    pat = f"{tempfile.gettempdir()}/ckpt_cep_tws_*"
    before = set(glob.glob(pat))
    pattern_match_stream_tws(spark, sf_dir).collect()
    assert set(glob.glob(pat)) == before


def test_table_get_distinguishes_null_values_from_missing(spark):
    """Map[K, Option[V]]: a present key whose latest write carries all-NULL
    values is Some(null row), not None — presence is a join marker, not an
    all-NULL heuristic. Duplicate requested keys collapse to one row."""
    from fs2_kafka_streams_spark.operators.table import MaterializedTable

    log = spark.createDataFrame(
        [(1, 10, None), (2, 20, "x")],
        "k long, off long, v string",
    )
    t = MaterializedTable(log, ["k"], ["off"], ["v"])
    assert t.get(1) == {"v": None}      # present, value NULL
    assert t.get(2) == {"v": "x"}
    assert t.get(3) is None             # genuinely missing
    assert t.get_all([2, 2, 3]).count() == 2


def test_salted_join_skips_map_columns(spark):
    """xxhash64 over MapType throws HASH_MAP_TYPE; the salt hash must skip
    map columns (any nesting) while results stay correct."""
    from fs2_kafka_streams_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(1, {"a": 1}), (1, {"b": 2}), (2, {"c": 3})],
        "k long, props map<string,int>",
    )
    small = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    out = salted_join(big, small, "k", salt=4)
    assert out.count() == 3
    assert {r.name for r in out.collect()} == {"one", "two"}
    # all-map big side: no deterministic salt derivable — loud error
    import pytest as _pytest

    only_map = spark.createDataFrame([({"a": 1},)], "m map<string,int>")
    with _pytest.raises(ValueError, match="map-typed"):
        salted_join(only_map, small, "m")


def test_pinned_conf_restores_on_partial_failure(spark):
    """If pinning a later conf raises, the earlier keys must be restored —
    not stay silently set for the rest of the shared session."""
    from fs2_kafka_streams_spark.streaming.conf import pinned_conf

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(Exception):
        with pinned_conf(
            spark,
            {
                "spark.sql.shuffle.partitions": "3",
                # static conf: cannot be set on a live session
                "spark.sql.warehouse.dir": "/nope",
            },
        ):
            pass  # pragma: no cover — set loop raises before yield
    assert spark.conf.get("spark.sql.shuffle.partitions") == orig


def test_pick_latest_null_safe():
    """The shared stateful fold step must keep NULL payload fields NULL:
    str()/float() coercion used to store the literal 'None' / NaN,
    silently diverging from the batch fold (which keeps NULL). NULL ts
    orders smallest (the batch max_by's NULLS FIRST) and never crashes."""
    from fs2_kafka_streams_spark.streaming.stateful import _pick_latest

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime([1_000_000, 2_000_000], unit="us"),
            "user_id": [7, 7],
            "event_type": ["view", None],
            "value": [1.0, None],
            "props": ["{}", None],
        }
    )
    cand, idx = _pick_latest(pdf)
    assert cand == (2, 2_000_000, None, None, None)
    # NULL ts loses to any real ts (NULLS-FIRST ordering), no crash
    pdf2 = pdf.assign(ts=[pd.NaT, pd.Timestamp(2_000_000, unit="us")])
    cand2, _ = _pick_latest(pdf2)
    assert cand2[0] == 2
    # tombstone variant appends the flag
    pdf3 = pdf.assign(deleted=[False, True])
    cand3, _ = _pick_latest(pdf3, "deleted")
    assert cand3[-1] is True


def test_upsert_sink_epochs_monotone_across_runs(spark, tmp_path):
    """Re-running a query against an EXISTING sink with a fresh checkpoint
    restarts foreachBatch epochs at 0; without an epoch base the prior
    run's higher-_epoch rows would shadow genuinely newer updates in the
    head fold."""
    from tests.conftest import write_replay_files
    from fs2_kafka_streams_spark.streaming.stateful import (
        _run_upsert_sink,
        _native_fold,
        EVENTS_SCHEMA,
    )

    def mk(eid, us, val):
        return {
            "event_id": eid,
            "ts": pd.Timestamp(us, unit="us"),
            "user_id": 1,
            "event_type": "view",
            "value": val,
            "props": "{}",
        }

    sink = str(tmp_path / "sink")

    def run(rows, n_frames, tag):
        rep = tmp_path / f"rep_{tag}"
        frames = [pd.DataFrame([r]) for r in rows][:n_frames]
        write_replay_files(rep, frames)
        src = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(rep))
        )
        updates = _native_fold(src)
        return _run_upsert_sink(spark, updates, sink_dir=sink)

    # run 1: five micro-batches -> epochs 0..4, head ts=50us
    run([mk(i, i * 10, float(i)) for i in range(1, 6)], 5, "a")
    # run 2 (fresh checkpoint, same sink): ONE batch with a NEWER record;
    # raw epoch 0 < 4 would lose to run 1's head without the base
    head = run([mk(9, 99, 9.0)], 1, "b").collect()
    assert len(head) == 1 and head[0].event_id == 9


def test_compaction_recovers_from_crashed_swap(spark, tmp_path):
    """A compaction that died mid-swap leaves '.old' behind; the next
    compaction must clean up (old + sink present) or roll back (old only)
    instead of wedging on ENOTEMPTY or orphaning the log."""
    import os
    import shutil

    from fs2_kafka_streams_spark.streaming.stateful import (
        compact_upsert_log,
    )

    sink = str(tmp_path / "s")
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1],
            "event_id": [1, 2],
            "ts": pd.to_datetime([1, 2], unit="us").astype("datetime64[us]"),
            "event_type": ["view", "view"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
            "_epoch": [0, 1],
        }
    )
    os.makedirs(f"{sink}/_bucket=0")
    pdf.to_parquet(f"{sink}/_bucket=0/part-0.parquet", index=False)
    # crash case (a): rmtree never ran — both sink and .old exist
    shutil.copytree(sink, sink + ".old")
    before, after = compact_upsert_log(spark, sink)
    assert (before, after) == (2, 1) and not os.path.exists(sink + ".old")
    # crash case (b): died between renames — only .old exists
    os.rename(sink, sink + ".old")
    before, after = compact_upsert_log(spark, sink)
    assert after == 1 and os.path.isdir(sink)


def test_wire_read_raises_on_shrunken_log(spark, tmp_path):
    """Offsets are planned on the driver; if the topic file is rewritten
    DESTRUCTIVELY (fewer records) before the read task runs, the task must
    raise OffsetOutOfRange-style — Arrow's clamping slice used to silently
    drop the missing records while Spark committed the planned end."""
    import shutil

    from fs2_kafka_streams_spark.sources.python_source import (
        _Part,
        _StreamReader,
    )
    from tests.conftest import SF_SMOKE

    src = tmp_path / "events.parquet"
    shutil.copy(f"{SF_SMOKE}/events.parquet", src)
    opts = {
        "path": str(src),
        "topic": "t",
        "partitions": "4",
        "cursor_file": str(tmp_path / "cursor.json"),
    }
    r = _StreamReader(opts)
    ends = r._end_offsets("t", str(src))
    # within range: serves fine
    ok = list(r.read(_Part("t", str(src), 0, 0, ends[0])))
    assert ok and ok[0].num_rows == ends[0]
    # plan an end past what a SHRUNKEN log holds
    with pytest.raises(RuntimeError, match="offset out of range"):
        list(r.read(_Part("t", str(src), 0, 0, ends[0] + 10)))


def test_stratified_sample_flag_matches_filter(spark):
    """The projected membership flag must be exactly the predicate
    stratified_sample filters on — the zero-join realization q43e ships
    (the old broadcast-semi-join realization was a driver OOM at scale)."""
    from fs2_kafka_streams_spark.operators.pipeline import (
        stratified_sample,
        stratified_sample_flag,
    )

    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3]) for i in range(300)],
        "doc_id long, lang string",
    )
    fracs = {"en": 0.5, "de": 0.25}
    kept = {
        r.doc_id
        for r in stratified_sample(
            df, "lang", "doc_id", fracs, default=0.1
        ).collect()
    }
    flagged = {
        r.doc_id
        for r in df.select(
            "doc_id",
            stratified_sample_flag("lang", "doc_id", fracs, 0.1).alias("s"),
        ).collect()
        if r.s
    }
    assert kept == flagged and 0 < len(kept) < 300
