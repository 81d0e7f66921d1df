"""Physical-plan regression tests: the scale properties SCALE.md claims —
filter pushdown, column pruning, broadcast choice, partial aggregation,
top-k without global sort — asserted on the actual executed plans so a
refactor can't silently regress them."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _registry():
    from fs2_kafka_streams_spark.queries import load_all

    return load_all()


def test_filter_pushdown_reaches_scan(spark):
    """q02's conjunctive predicates must appear as PushedFilters on the
    parquet scan (at 100 TB this is the difference between reading row
    groups and skipping them)."""
    plan = _plan(_registry()["q02_filter_conjunctive"].build(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan


def test_column_pruning_narrows_read_schema(spark):
    """q01 projects 2 of region's columns — ReadSchema must contain exactly
    those, not the full table."""
    import re

    plan = _plan(_registry()["q01_scan_project"].build(spark, SF_SMOKE))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [f.split(":")[0] for f in m.group(1).split(",")]
    assert cols == ["r_regionkey", "r_name"], cols


def test_small_dims_broadcast(spark):
    """q07 (multiway fact join + nation ⋈ region dim) must use broadcast
    joins for dims — never a shuffle of the big side against a tiny
    table."""
    q07 = _plan(
        _registry()["q07_join_multiway_broadcast"].build(spark, SF_SMOKE)
    )
    assert "BroadcastHashJoin" in q07


def _node_counts(plan: str) -> dict[str, int]:
    """Parquet scans, hash exchanges and join nodes of an executed plan."""
    import re

    nodes = re.findall(r"^[\s:+-]*(?:\*\(\d+\) )?(\w+)", plan, re.M)
    return {
        "scans": sum(n == "FileScan" for n in nodes),
        "hash_exchanges": len(re.findall(r"Exchange hashpartitioning", plan)),
        "joins": sum(
            n.endswith("Join") or n == "CartesianProduct" for n in nodes
        ),
    }


def test_single_scan_entries(spark):
    """Driver entries whose columns are projections or window passes over
    one table read that table once: no self-join of the table against
    itself, and the windows sharing one PARTITION BY shuffle once."""
    reg = _registry()
    shapes = {
        "q25_string_hash_functions": {"scans": 1, "joins": 0},
        "q26_date_math_functions": {"scans": 1, "joins": 0},
        "q19_window_ranking_dist": {
            "scans": 1, "joins": 0, "hash_exchanges": 1,
        },
        "q20_window_analytic_value": {
            "scans": 1, "joins": 0, "hash_exchanges": 1,
        },
        "q16c_pivot_map": {"scans": 1},
        "q43b_text_metrics": {"scans": 1, "joins": 0},
    }
    for name, want in shapes.items():
        got = _node_counts(_plan(reg[name].build(spark, SF_SMOKE)))
        assert {k: got[k] for k in want} == want, (name, got)


def test_partial_aggregation_before_shuffle(spark):
    """q13 (TPC-H Q1 shape) must plan map-side partial aggregation: two
    HashAggregate nodes around the exchange, so shuffle volume is O(groups)."""
    plan = _plan(_registry()["q13_agg_tpch_q1"].build(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2


def test_topk_avoids_global_sort(spark):
    """q23 (ORDER BY ... LIMIT 100) must plan TakeOrderedAndProject — a
    per-partition top-k then merge, never a full global sort."""
    plan = _plan(_registry()["q23_sort_limit"].build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_latest_by_key_is_single_aggregation(spark):
    """q17 (the reference's core op) must be one aggregation pass (max_by),
    not a window + filter over the full table (which would sort every
    partition)."""
    plan = _plan(_registry()["q17_latest_by_key"].build(spark, SF_SMOKE))
    assert "Window" not in plan


def test_multiget_pushes_keys_into_the_scan(spark):
    """q18's key-list lookup must prune BELOW the latest-by-key aggregation:
    a literal single-column key set becomes an In() predicate pushed into
    the parquet scan, so row groups that can't contain the keys are never
    read — and the full table is never aggregated just to look up 6 keys.

    The wrong shapes: broadcasting the whole materialized table toward the
    keys (round-1 verdict — driver OOM at 100×), or semi-joining above the
    aggregation (reads + aggregates the entire table first).
    """
    plan = _plan(_registry()["q18_multi_get"].build(spark, SF_SMOKE))
    assert "PushedFilters: [In(user_id" in plan, plan


def test_multiget_composite_keys_semi_join_prune(spark):
    """Composite (multi-column) keys can't become a pushed In() filter; the
    prune must instead be a broadcast LeftSemi of the key list against the
    changelog, still below the aggregation."""
    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.table import MaterializedTable

    ev = Catalog(spark, SF_SMOKE).events
    t = MaterializedTable(
        ev,
        key_cols=["user_id", "event_type"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "value"],
    )
    plan = _plan(t.get_all([(1, "click"), (2, "view")]))
    assert "LeftSemi" in plan, plan


def test_asof_snapshot_pushes_interval_filters(spark, tmp_path):
    """as_of over a parquet-stored SCD2 history must push both interval
    comparisons into the scan (PushedFilters) — at scale that's the
    difference between reading the whole history and the covering slice."""
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.scd import as_of, changelog_history

    ev = Catalog(spark, SF_SMOKE).events.select("user_id", "event_id", "value")
    hist_dir = str(tmp_path / "history")
    changelog_history(ev, ["user_id"], "event_id", ["value"]).write.parquet(
        hist_dir
    )
    import re

    snap = as_of(spark.read.parquet(hist_dir), F.lit(500))
    plan = _plan(snap)
    assert "LessThanOrEqual(valid_from,500)" in plan, plan
    # the open-interval disjunct pushes as Or(IsNull(valid_to), >500); the
    # PushedFilters list is length-truncated in toString, so match the
    # untruncated DataFilters rendering
    assert re.search(r"valid_to#\d+L? > 500", plan), plan


def test_chunking_has_no_exchange(spark):
    """q43i (context-window chunking) is a pure row-local explode — any
    Exchange in its plan is a regression (at 100 TB it would shuffle the
    whole corpus for nothing)."""
    plan = _plan(_registry()["q43i_chunking"].build(spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def test_boilerplate_no_pair_join(spark):
    """q43h must never pair documents (its whole point is avoiding the
    O(df^2) blowup boilerplate causes in pair joins): no cartesian or
    nested-loop node, and the corpus count reaches the threshold filter
    via a broadcast, not a driver scalar."""
    plan = _plan(_registry()["q43h_boilerplate"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the 1-row corpus count crossJoin plans as a broadcast nested loop
    # with a single build row - that's the intended shape; what must NOT
    # appear is a shuffled join keyed on nothing. Spark renders the node
    # as 'SortMergeJoin [keys], [keys], Cross' — the old contiguous
    # 'SortMergeJoin Cross' substring could never match any plan
    import re

    assert not re.search(r"SortMergeJoin.*Cross", plan)


def test_quality_filter_single_wordcount_aggregation(spark):
    """q43f's only exchanges are the (doc, word) mode aggregation + the
    doc-id join back — and partial aggregation must sit below them."""
    plan = _plan(_registry()["q43f_quality_filter"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_profile_single_scan(spark):
    """q50 profiles every column in ONE pass: exactly one parquet scan in
    the plan (multiple exact DISTINCT aggregates go through Spark's
    Expand, not per-column re-scans)."""
    plan = _plan(_registry()["q50_table_profile"].build(spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan


def test_funnel_no_window_and_pushed_stage_filters(spark):
    """q51's stages must push their event-type equality to the scan and
    must not plan any Window (a skewed user costs an agg buffer, not a
    per-key sort)."""
    plan = _plan(_registry()["q51_funnel"].build(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "EqualTo(event_type," in plan


def test_incremental_upsert_single_join_no_nested_loop(spark):
    """q56's merge must be one equi-join (full outer) — never a nested
    loop / cartesian — and the delta fold must partial-aggregate before
    its exchange."""
    plan = _plan(_registry()["q56_incremental_upsert"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Join") >= 1
    # one join only: the snapshot fold + delta fold + merge, no extra
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) == 1


def test_scd_history_single_exchange(spark):
    """q53: one shuffle on the key, then the lead window — no second
    exchange above the window."""
    plan = _plan(_registry()["q53_scd_history"].build(spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_twa_single_exchange(spark):
    """q63: the user_id shuffle must be paid ONCE — the lead window and the
    aggregation share it (AQE must not insert a second hash exchange)."""
    plan = _plan(_registry()["q63_time_weighted_avg"].build(spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_gapfill_spine_is_rowlocal_and_join_broadcast(spark):
    """q60: the calendar spine must come from Generate (sequence explode),
    never a driver loop or a cartesian; the spine ⋈ daily join must be a
    broadcast hash join between the two post-aggregation relations."""
    plan = _plan(_registry()["q60_gapfill"].build(spark, SF_SMOKE))
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_histogram_is_projection_plus_partial_agg(spark):
    """q61: bucket assignment must stay a scan-stage projection feeding a
    map-side-combined aggregate — no window, no sort, no join."""
    plan = _plan(_registry()["q61_histogram"].build(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_anomaly_window_runs_on_daily_preaggregate(spark):
    """q62: the rolling-statistics window must consume the (type, day)
    aggregate — an aggregation below the window in the plan tree — never
    the raw event log, and stay partitioned (no single-partition window)."""
    plan = _plan(_registry()["q62_anomaly"].build(spark, SF_SMOKE))
    win = plan.index("Window")
    assert "HashAggregate" in plan[win:], "window must sit above the daily agg"
    assert "Exchange SinglePartition" not in plan


def test_sketch_merge_no_cartesian_and_partial_aggs(spark):
    """q64: both sketch paths must partial-aggregate (map-side combinable
    fixed-size sketches are the whole point); the final type-level join of
    two tiny aggregates must never be a nested loop."""
    plan = _plan(_registry()["q64_hll_sketch_merge"].build(spark, SF_SMOKE))
    assert plan.count("ObjectHashAggregate") + plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_registrywide_no_accidental_nested_loops(spark):
    """Regression net over EVERY batch registry entry: no CartesianProduct
    anywhere, and BroadcastNestedLoopJoin only where it is the documented
    bounded-broadcast pattern — a 1-row global-stats aggregate crossed
    into the scan (q13b/q28/q43g/q43h) or the tiny fixed query set
    of the brute-force similarity oracle tier (q44/q44e). Any OTHER entry
    growing a nested loop is a scale regression and fails here."""
    from fs2_kafka_streams_spark.queries import load_all

    BNLJ_OK = {
        # 1-row broadcast aggregate crossed into the scan (the round-2
        # replacement for single-partition `count() OVER ()` windows)
        "q13b_stats_percentiles",
        "q28_conditional_json",
        "q43g_source_mix",
        "q43h_boilerplate",
        # fixed 3-vector query set broadcast against the corpus (the
        # documented exact/oracle tier; the scale path is q44b/q44d)
        "q44_cosine_topk",
        "q44e_ivf_ann",
    }
    bad = []
    for name, spec in sorted(load_all().items()):
        if "streaming" in spec.tags:
            continue  # streaming plans are asserted in their own suites
        plan = _plan(spec.build(spark, SF_SMOKE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            bad.append((name, "BroadcastNestedLoopJoin"))
    assert not bad, bad


def test_bucketed_scd_and_asof_plan_shapes(spark):
    """r8 bucketed variants: the skew-bounded plans must stay equi-join/
    window shaped — no CartesianProduct anywhere, the per-(key, bucket)
    window actually partitioned by the bucket, and the extra exchanges
    bounded by the documented counts (SCALE.md O(rows): scd2 ≤5, asof ≤4
    at 6M rows — a few more may appear at smoke scale from AQE, so the
    assert uses a loose ceiling; the point is O(1) exchanges, not a
    re-shuffle per bucket)."""
    from fs2_kafka_streams_spark.catalog import Catalog
    from fs2_kafka_streams_spark.operators.asof_join import asof_join
    from fs2_kafka_streams_spark.operators.scd import changelog_history

    c = Catalog(spark, SF_SMOKE)
    ev = c.events.select("user_id", "ts", "event_type", "value")
    hist = changelog_history(
        ev, ["user_id"], "ts", ["event_type", "value"], order_bucket="6 hours"
    )
    plan = _plan(hist)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 7
    assert "_b" in plan  # window/stitch keyed by the bucket

    right = c.orders.select("o_custkey", "o_orderdate", "o_totalprice")
    joined = asof_join(
        c.events.select("event_id", "user_id", "ts"), right,
        "ts", "o_orderdate", ["user_id"], ["o_custkey"],
        right_values=["o_totalprice"], time_bucket="24 hours",
    )
    plan = _plan(joined)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 7
    assert "_b" in plan
