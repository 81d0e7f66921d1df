"""Pins for the round-8 review fixes (ADVICE.md r7 + cold-file campaign).

Each test pins one execution-confirmed fix:

- ``apply_changes`` regained a deterministic within-batch tiebreak via
  ``unique_order=False`` for change batches that may tie on (key, order)
  — the r7 change to ``unique_order=True`` made such batches
  nondeterministic with only a comment stating the precondition.
- ``pinned_conf`` records a scope in ``PIN_TRACE`` only after every
  ``spark.conf.set`` succeeded — a static-conf failure used to leave the
  bench artifact claiming confs were live that never applied.
- ``_is_scan_shaped`` parses node names from plan tree lines instead of
  substring-matching the whole plan text — a file path or alias
  containing "Join"/"Union" silently disabled the row-group demotion,
  and Except/Intersect passed as scan-shaped.
- ``MaterializedTable`` rejects a payload column named ``_found`` (the
  get/get_all presence-marker name) at construction.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.operators.dedup import _is_scan_shaped
from fs2_kafka_streams_spark.operators.incremental import apply_changes
from fs2_kafka_streams_spark.operators.table import MaterializedTable
from fs2_kafka_streams_spark.streaming import conf as sconf


def test_apply_changes_tied_order_deterministic_with_flag(spark):
    """Two same-key rows with the SAME order value but different payloads:
    unique_order=False must pick the greatest value tuple (deterministic
    across runs/partitionings), not an arbitrary survivor."""
    rows = [
        ("k1", 10, "aaa"),
        ("k1", 10, "zzz"),  # tie on order; greatest value wins
        ("k2", 5, "only"),
    ]
    for n_parts in (1, 7):
        changes = spark.createDataFrame(
            rows, "k string, pos long, v string"
        ).repartition(n_parts)
        out = apply_changes(
            None, changes, ["k"], "pos", ["v"], unique_order=False
        ).collect()
        got = {r["k"]: r["v"] for r in out}
        assert got == {"k1": "zzz", "k2": "only"}


def test_pinned_conf_failed_set_not_recorded_as_live(spark):
    """A scope whose set raises (static conf) must NOT append to PIN_TRACE
    — the trace is the bench artifact's proof of which confs were LIVE —
    and must still restore the keys it did set before failing."""
    key = "spark.sql.shuffle.partitions"
    base = spark.conf.get(key)
    seq_before = sconf.PIN_SEQ
    trace_tail_before = list(sconf.PIN_TRACE[-1:])
    with pytest.raises(Exception):
        # valid key first (gets set), then a static conf that raises
        with sconf.pinned_conf(
            spark,
            {key: "3", "spark.sql.warehouse.dir": "/tmp/nope"},
        ):
            pass  # pragma: no cover - never reached
    assert sconf.PIN_SEQ == seq_before, "failed scope recorded as live"
    assert list(sconf.PIN_TRACE[-1:]) == trace_tail_before
    assert spark.conf.get(key) == base, "partially-set key not restored"


def test_is_scan_shaped_ignores_join_in_paths_and_aliases(spark, tmp_path):
    """A directory named like a shuffle node and an alias named like one
    must not disable the demotion; Except/Intersect must disable it."""
    d = tmp_path / "Union_Join_2024"
    d.mkdir()
    pd.DataFrame({"a": [1, 2, 3]}).to_parquet(d / "x.parquet", index=False)
    scan = spark.read.parquet(str(d)).select(
        F.col("a").alias("JoinSortWindow")
    )
    assert _is_scan_shaped(scan), (
        "path/alias substring disabled the row-group demotion"
    )
    assert not _is_scan_shaped(scan.exceptAll(scan))
    assert not _is_scan_shaped(scan.intersect(scan))
    assert not _is_scan_shaped(scan.groupBy("JoinSortWindow").count())


def test_materialized_table_rejects_found_column(spark):
    df = spark.createDataFrame(
        [("k", 1, True)], "k string, pos long, _found boolean"
    )
    with pytest.raises(ValueError, match="_found"):
        MaterializedTable(df, ["k"], ["pos"], value_cols=["_found", "pos"])


def test_lang_id_and_fingerprint_null_text(spark):
    """r8 cold review (operators/text.py + the q43b oracle): on NULL text
    Spark's lang_id used to emit 'en' (NULL hit counts fall through the
    argmax to the tie priority) while the DuckDB oracle's CASE fell
    through its ELSE to 'zh', and the oracle's list_prepend(0, NULL)
    folded NULL text to fingerprint 0 while Spark returned NULL. Both
    sides now agree: NULL text → NULL lang_pred, NULL fingerprint — and
    q43b's text-analysis columns match its oracle on a corpus that
    CONTAINS a NULL-text document."""
    import duckdb

    from fs2_kafka_streams_spark.operators.text import analyze
    from fs2_kafka_streams_spark.queries import load_all

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "lang": ["en", "en", "es", "en"],
            "text": [
                "the cat and the dog is here",
                None,
                "el que la de y",
                "",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: (r["lang_pred"], r["fingerprint"])
        for r in analyze(df, "text").collect()
    }
    assert got[2] == (None, None), "NULL text must yield NULL metrics"
    assert got[1][0] == "en" and got[3][0] == "es"
    assert got[4] == ("en", 0)  # empty text: defined, zero fingerprint

    # q43b oracle agreement on the NULL-bearing corpus, over the columns
    # analyze() owns
    spec = load_all()["q43b_text_metrics"]
    con = duckdb.connect()
    con.register("documents", pdf)
    cols = ["doc_id", "lang", "n_tokens", "lang_pred", "quality", "fingerprint"]
    want = sorted(
        tuple(str(v) for v in row)
        for row in con.sql(
            f"SELECT {', '.join(cols)} FROM ({spec.oracle})"
        ).fetchall()
    )
    spark_rows = sorted(
        tuple(str(r[c]) for c in cols)
        for r in analyze(df, "text").select(*cols).collect()
    )
    # column order matches the oracle's SELECT list
    assert spark_rows == want


def test_bench_noise_flags_median_based():
    """r8 bench fix: the per-entry noise flag compares ticks to the run's
    MEDIAN, not its minimum — under a uniformly loaded host one lucky-fast
    tick used to drag a min-based floor low enough to flag 56/83 entries
    (zero discrimination). Uniform load is the run-level host_loaded
    flag's job; the per-entry flag isolates in-run spikes."""
    import bench

    names = [f"q{i}" for i in range(5)]
    # uniformly-loaded run with one outlier-fast tick: flags NOTHING
    noisy, mid = bench.noise_flags(names, [0.12, 0.075, 0.13, 0.11, 0.14, 0.12])
    assert noisy == {}
    assert mid == 0.12
    # an in-run spike flags exactly the two entries it brackets
    noisy, _ = bench.noise_flags(names, [0.12, 0.11, 0.50, 0.11, 0.12, 0.13])
    assert sorted(noisy) == ["q1", "q2"]
    assert noisy["q1"] == [0.11, 0.50]
    # quiet fast run: absolute 50 ms guard keeps timer jitter unflagged
    noisy, _ = bench.noise_flags(names, [0.02, 0.03, 0.04, 0.02, 0.05, 0.03])
    assert noisy == {}


def test_upsert_sink_files_bounded_by_buckets(spark, tmp_path):
    """r8: the upsert sink writes each epoch from the state tasks, one file
    per task — without that, a write fanned every input task across the
    log (measured 256 files for a 1,500-row view at sf0.1), the classic
    small-files failure a 100 TB compacted log cannot afford. Each
    non-empty state partition appends one file per epoch, and task 0
    appends one even when its partition is empty (Spark keeps it for the
    schema): at most ``STREAM_STATE_PARTITIONS`` files per epoch, counted
    on disk (:func:`tests.conftest.upsert_files_per_epoch`)."""
    from fs2_kafka_streams_spark.streaming import stateful
    from fs2_kafka_streams_spark.streaming.conf import (
        STREAM_STATE_PARTITIONS,
    )
    from tests.conftest import SF_SMOKE, upsert_files_per_epoch

    sink = str(tmp_path / "sink")
    view = stateful.latest_by_key_streaming(spark, SF_SMOKE, sink_dir=sink)
    assert view.count() > 0
    per_epoch = upsert_files_per_epoch(sink)
    epochs = (
        stateful._read_upsert_log(spark, sink)
        .select("_epoch").distinct().count()
    )
    assert len(per_epoch) == epochs > 1
    assert max(per_epoch.values()) <= int(STREAM_STATE_PARTITIONS), per_epoch


def test_apply_changes_snapshot_missing_columns_loud(spark):
    """r8 probe: a snapshot without the order column (a raw dimension
    table instead of a previous apply_changes output) used to die with a
    cryptic UNRESOLVED_COLUMN inside the merge projection; the boundary
    now names the missing columns."""
    base = spark.createDataFrame([("a", "old")], "k string, v string")
    changes = spark.createDataFrame(
        [("a", 5, "new")], "k string, pos long, v string"
    )
    with pytest.raises(ValueError, match="missing column.*pos"):
        apply_changes(base, changes, ["k"], "pos", ["v"])
    # the valid shape still merges
    ok_base = spark.createDataFrame(
        [("a", "old", 1)], "k string, v string, pos long"
    )
    out = apply_changes(ok_base, changes, ["k"], "pos", ["v"]).collect()
    assert [(r["k"], r["v"], r["pos"]) for r in out] == [("a", "new", 5)]
