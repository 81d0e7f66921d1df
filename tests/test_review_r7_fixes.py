"""Pins for round-7 instrumentation seams.

- The conf-pin trace protocol: readers snapshot the MONOTONIC ``PIN_SEQ``
  and take the last ``PIN_SEQ - snapshot`` entries; a length-based
  snapshot silently returns nothing once the rolling trim engages (the
  regression a round-7 review caught in bench.py's first version).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.streaming import conf as sconf
from tests.conftest import SF_SMOKE


def test_pin_trace_counter_survives_trim(spark):
    """Drive pinned_conf past the trim horizon; the PIN_SEQ read protocol
    must still attribute the LAST scope's confs correctly while a naive
    len() snapshot goes empty (asserted too, so a future 'simplification'
    back to len() fails here)."""
    key = "spark.sql.shuffle.partitions"
    base = spark.conf.get(key)

    # push well past the trim horizon
    for i in range(sconf._PIN_TRACE_MAX + 5):
        with sconf.pinned_conf(spark, {key: base}):
            pass
    assert len(sconf.PIN_TRACE) == sconf._PIN_TRACE_MAX

    # reader protocol: snapshot PIN_SEQ, run a scope, slice by the delta
    snap_seq = sconf.PIN_SEQ
    snap_len = len(sconf.PIN_TRACE)
    marker = {key: base, "spark.sql.session.timeZone": "UTC"}
    with sconf.pinned_conf(spark, marker):
        pass
    n_new = min(sconf.PIN_SEQ - snap_seq, len(sconf.PIN_TRACE))
    assert n_new == 1
    got = {}
    for m in sconf.PIN_TRACE[-n_new:]:
        got.update(m)
    assert got == marker

    # the naive protocol is broken here: the list is already at its cap,
    # so a len() snapshot slices from a position at/beyond the tail and
    # misses the scope that just ran
    assert sconf.PIN_TRACE[snap_len:] == []
    assert spark.conf.get(key) == base  # scopes restored


def test_spread_sees_through_split_inflated_single_row_group(spark, tmp_path):
    """A single-row-group parquet file planned as many byte-range splits
    must still be repartitioned: parquet rows can only parallelize across
    ROW GROUPS, so the split count alone overstates the scan's real width
    (the 100×-corpus regression: 32 planned splits, every row in one
    task, the shingle stage serialized on one core). A genuinely
    multi-row-group file of the same planned width must stay a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fs2_kafka_streams_spark.operators.dedup import _spread

    n = 20_000
    t = pa.table({"doc_id": list(range(n)), "text": ["word " * 40] * n})
    one_rg = str(tmp_path / "one_rg.parquet")
    many_rg = str(tmp_path / "many_rg.parquet")
    pq.write_table(t, one_rg)  # default row_group_size ≫ n → 1 row group
    pq.write_table(t, many_rg, row_group_size=n // 200)  # 200 row groups
    assert pq.ParquetFile(one_rg).metadata.num_row_groups == 1

    target = spark.sparkContext.defaultParallelism
    if target < 2:
        pytest.skip("width guard is meaningless on a 1-core session")
    # shrink maxPartitionBytes so the planner slices the file into at
    # least `target` splits — the condition that used to fool the probe
    size = __import__("os").path.getsize(one_rg)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max(1, size // (target * 2)))
    )
    try:
        df1 = spark.read.parquet(one_rg)
        assert df1.rdd.getNumPartitions() >= target, "probe precondition"
        spread1 = _spread(df1)
        assert spread1.rdd.getNumPartitions() == target, (
            "single-row-group input must be repartitioned despite its "
            "inflated split count"
        )
        dfm = spark.read.parquet(many_rg)
        assert dfm.rdd.getNumPartitions() >= target
        assert _spread(dfm) is dfm, (
            "a genuinely multi-row-group scan of sufficient width must "
            "stay shuffle-free"
        )
        # post-shuffle plans are already spread: the row-group demotion
        # must NOT override caller-set parallelism with a second shuffle
        wide = df1.repartition(2 * target)
        assert _spread(wide) is wide, (
            "an explicitly repartitioned input must pass through untouched"
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_table_api_boundary_contracts(spark):
    """The cold-file review pins (round 7): get_all's Option[V] marker,
    NULL-key reachability parity between scan() and point reads, the
    tombstone/value_cols validation, join_with's overlap rejection, and
    the reserved-name guards on salted_join / dedup_keep_best /
    apply_changes."""
    import pytest as _pytest

    from fs2_kafka_streams_spark.operators.clusters import dedup_keep_best
    from fs2_kafka_streams_spark.operators.incremental import apply_changes
    from fs2_kafka_streams_spark.operators.joins import salted_join
    from fs2_kafka_streams_spark.operators.table import (
        MaterializedTable,
        join_with,
    )

    log = spark.createDataFrame(
        [
            (1, 1, "a"),
            (1, 2, None),   # key 1's LATEST value is genuinely NULL
            (None, 3, "n"),  # an un-keyed record
        ],
        "k int, off int, v string",
    )
    t = MaterializedTable(log, ["k"], ["off"], value_cols=["v"])

    # marker distinguishes Some(null) from None
    got = {
        r["k"]: (r["v"], r["_found"])
        for r in t.get_all([1, 2], marker=True).collect()
    }
    assert got[1] == (None, True), "all-NULL latest value is Some(null)"
    assert got[2] == (None, False), "missing key is None"
    # default output schema unchanged (q18's oracle contract)
    assert t.get_all([1, 2]).columns == ["k", "v"]

    # a NULL key visible in scan() is reachable through get_all too
    assert {r["k"] for r in t.scan().collect()} == {1, None}
    nk = {r["k"]: r["_found"] for r in t.get_all([None, 2], marker=True).collect()}
    assert nk[None] is True and nk[2] is False

    # explicit value_cols omitting the tombstone column fails at the API
    with _pytest.raises(ValueError, match="tombstone_col"):
        MaterializedTable(
            log, ["k"], ["off"], value_cols=[], tombstone_col="v"
        )

    # join_with rejects non-key column overlap at the boundary
    stream = spark.createDataFrame([(1, "x")], "k int, v string")
    with _pytest.raises(ValueError, match="join_with"):
        join_with(stream, t)

    # reserved-name guards fail loudly instead of silently clobbering
    big = spark.createDataFrame([(1, 0)], "k int, _salt int")
    small = spark.createDataFrame([(1,)], "k int")
    with _pytest.raises(ValueError, match="_salt"):
        salted_join(big, small, "k")
    corpus = spark.createDataFrame([(1, "t", 5)], "doc_id long, text string, component int")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="component"):
        dedup_keep_best(corpus, pairs, "doc_id")
    ch = spark.createDataFrame([(1, 1, False)], "k int, off int, _dead boolean")
    with _pytest.raises(ValueError, match="_dead"):
        apply_changes(None, ch, ["k"], "off", ["_dead"], tombstone_col=None)


def test_decode_and_pipeline_boundary_contracts(spark):
    """Second cold-file review pins: phantom-clean-row holes in the decode
    layer (NULL topic, empty CSV payload), reserved-field parity across
    formats, and the NULL/zero-input contracts of the pipeline operators."""
    import pytest as _pytest

    from fs2_kafka_streams_spark.operators.multimodal import frame_sample
    from fs2_kafka_streams_spark.operators.pipeline import (
        hash_split,
        pack_sequences,
        temperature_sample,
    )
    from fs2_kafka_streams_spark.sources.decode import (
        BinaryFormat,
        CsvFormat,
        DecodeRegistry,
        JsonFormat,
        clean_view,
    )

    # NULL topic / empty CSV payload must dead-letter, never pass clean
    recs = spark.createDataFrame(
        [
            (None, bytearray(b'{"a":2}')),   # NULL topic: unroutable
            ("t_csv", bytearray(b"")),       # empty payload: phantom row
            ("t_csv", bytearray(b"7,x")),    # genuinely clean
        ],
        "topic string, value binary",
    )
    reg = (
        DecodeRegistry()
        .register("t_json", JsonFormat("a int"))
        .register("t_csv", CsvFormat("a int, b string"))
    )
    out = reg.decode(recs)
    errs = {
        (r["topic"], r["decode_error"] is not None) for r in out.collect()
    }
    assert (None, True) in errs and ("t_csv", True) in errs
    assert clean_view(out).count() == 1

    # reserved-field parity across all three formats
    with _pytest.raises(ValueError, match="_corrupt"):
        CsvFormat("x int, _corrupt string").decode(F.lit(b"1"))
    with _pytest.raises(ValueError, match="_err"):
        BinaryFormat("x int, _err string", lambda b: {}).decode(F.lit(b"1"))

    # hash_split: NULL ids get a NULL split, never the last declared one
    ids = spark.createDataFrame([(1,), (None,)], "doc_id int")
    split = {
        r["doc_id"]: r["split"]
        for r in hash_split(ids, "doc_id", {"train": 0.9, "test": 0.1}).collect()
    }
    assert split[None] is None and split[1] is not None

    # pack_sequences: a NULL token count names the offending id
    docs = spark.createDataFrame(
        [(1, 5), (2, None)], "doc_id long, n_tok long"
    )
    with _pytest.raises(Exception, match="NULL token count"):
        pack_sequences(docs, "doc_id", "n_tok", budget=10).collect()

    # temperature_sample: all-zero weights sample NOTHING (no ANSI
    # DIVIDE_BY_ZERO abort, no silent keep-everything)
    zero = spark.createDataFrame(
        [(1, "s1", 0.0), (2, "s1", 0.0)], "doc_id long, source string, w double"
    )
    assert temperature_sample(zero, "w").count() == 0

    # frame_sample: zero step fails at the boundary, not per-task
    media = spark.createDataFrame(
        [(1, "video", 5000)], "media_id long, kind string, duration_ms long"
    )
    with _pytest.raises(ValueError, match="every_ms"):
        frame_sample(media, every_ms=0)
