#!/usr/bin/env python
"""Generate EXPLAINS.md: formatted physical plans for the headline queries,
with the scale-relevant properties each plan must exhibit called out.

This is evidence, not prose: the plans are captured from the live session
(`df._jdf.queryExecution().explainString(FormattedMode)`), and each section
lists the properties a 100 TB deployment depends on (pushed filters, pruned
schemas, broadcast joins, absence of cartesian products, whole-stage
codegen) so a reviewer can check the claim against the plan text directly
below it. Regenerate with: python scripts/explain_report.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.01"

#: query -> the scale properties its plan is expected to show
HEADLINERS: dict[str, list[str]] = {
    "q02_filter_project": [
        "filter pushed to the parquet scan (PushedFilters non-empty)",
        "column-pruned ReadSchema (only the projected/filtered columns)",
        "single WholeStageCodegen span, no exchange",
    ],
    "q07_join_multiway_broadcast": [
        "dimension joins are BroadcastHashJoin (no shuffle for small dims)",
        "region joins the nation dim inside its broadcast, so each of the "
        "five tables is scanned once",
        "no CartesianProduct / BroadcastNestedLoopJoin",
    ],
    "q13_agg_tpch_q1": [
        "partial_ aggregation below the exchange (map-side combine), "
        "final above — shuffle volume is O(groups), not O(rows)",
        "decimal arithmetic (order-independent, oracle-exact)",
    ],
    "q17_latest_by_key": [
        "single hash aggregation on the key (max_by) — latest-per-key "
        "without a window sort",
        "partial aggregation before the exchange",
    ],
    "q18_multi_get": [
        "key-set filter pushed BELOW the latest-by-key aggregation "
        "(prunes the scan, not the result)",
    ],
    "q22_topk_per_group": [
        "rank window partitioned by group (no global sort, no single "
        "partition)",
    ],
    "q41_dedup_decontaminate": [
        "benchmark shingle set reaches the corpus via broadcast "
        "(BroadcastHashJoin / broadcast exchange), zero corpus-sized "
        "shuffle",
    ],
    "q43f_quality_filter": [
        "row-local metrics in the scan-stage project; one (doc, word) "
        "aggregation pair with partial_ below the exchange",
        "no CartesianProduct / BroadcastNestedLoopJoin",
    ],
    "q43g_source_mix": [
        "per-source rate table broadcast back over the corpus scan "
        "(BroadcastHashJoin)",
        "corpus side is scan + project + filter only",
    ],
    "q43i_chunking": [
        "explode of row-local chunk windows at scan time — no exchange "
        "anywhere in the plan",
    ],
    "q44d_embedding_neardup_lsh": [
        "banded equi-join on (band, bucket) hash keys — O(n·bands) "
        "candidates, no CartesianProduct",
    ],
    "q42b_minhash_lsh": [
        "64 permutation minima aggregated directly (partial_min below the "
        "exchange — shuffle is O(docs·k), not O(shingles·k))",
        "band self-join on (band, hash) equi-keys, no CartesianProduct",
        "candidate verification joins the persisted shingle table, "
        "broadcast-side candidates",
    ],
    "q50_table_profile": [
        "exactly ONE parquet scan for all per-column stats (multi-DISTINCT "
        "via a single Expand, never per-column re-scans)",
    ],
    "q51_funnel": [
        "event-type filters pushed to each stage's parquet scan "
        "(PushedFilters with EqualTo(event_type, ...))",
        "stage tables are per-user aggregates (O(users)); no windows, "
        "no single-partition sort",
    ],
    "q53_scd_history": [
        "one exchange on the key + per-key lead window — the operator's "
        "floor; tombstone filter above the window, no second shuffle",
    ],
    "q56_incremental_upsert": [
        "delta folded by ONE hash aggregation (max_by), then a single "
        "full-outer SortMergeJoin on the key — shuffle is O(snapshot keys "
        "+ delta), never O(log)",
        "no CartesianProduct / BroadcastNestedLoopJoin",
    ],
    "q60_gapfill": [
        "calendar spine via Generate (sequence explode) from the per-type "
        "bounds row — row-local, never a driver loop or cross join",
        "spine ⋈ daily is a BroadcastHashJoin of two post-aggregation "
        "relations; forward-fill window partitioned by type (O(days) "
        "per partition at any scale)",
    ],
    "q62_anomaly": [
        "rolling window consumes the (type, day) PRE-AGGREGATE — "
        "HashAggregate below Window — never the raw event log",
        "no single-partition window; |z|>3 decided on exact integer "
        "sufficient statistics (no float stddev in the plan)",
    ],
    "q63_time_weighted_avg": [
        "exactly ONE Exchange hashpartitioning(user_id): the lead window "
        "and the aggregation share the shuffle",
    ],
    "q68_salted_join": [
        "salted equi-join only: one hash join on (key, salt) — no "
        "CartesianProduct / BroadcastNestedLoopJoin from the salt "
        "replication",
        "revenue re-aggregation partial-aggregates before its exchange",
    ],
    "q73_recursive_cte": [
        "recursion compiles to an iterated frontier join (UnionLoop) — "
        "each level one equi-join on the parent key, no cartesian",
        "identical SQL text runs on the DuckDB oracle",
    ],
    "q64_hll_sketch_merge": [
        "both sketch paths partial-aggregate (ObjectHashAggregate "
        "partial/final pairs) — fixed-size sketches map-side combine, so "
        "shuffle volume is O(groups × 4 KB) regardless of cardinality",
        "final per-type join of two tiny aggregates is broadcast, never "
        "a nested loop",
    ],
}


def main() -> None:
    from fs2_kafka_streams_spark.queries import load_all
    from fs2_kafka_streams_spark.queries.llm import (
        _embedding_neardup_lsh,
        _minhash_pairs,
    )
    from fs2_kafka_streams_spark.session import get_spark

    spark = get_spark(app_name="explain-report")
    builders = {name: spec.build for name, spec in load_all().items()}
    # arms of the exported q44b/q42b entries, captured on their own
    builders["q44d_embedding_neardup_lsh"] = _embedding_neardup_lsh
    builders["q42b_minhash_lsh"] = _minhash_pairs
    out = [
        "# EXPLAINS — captured physical plans for the headline queries",
        "",
        f"Captured at sf=0.01 ({SF}) by `scripts/explain_report.py`;",
        "regenerate after plan-affecting changes. Each section lists the",
        "scale properties the plan MUST exhibit, then the formatted plan",
        "captured from the live session. `tests/test_plan_properties.py`",
        "and `tests/test_scale_joins.py` assert the load-bearing ones in",
        "CI fashion; this file exists so a reviewer can eyeball the rest.",
        "",
        "Known benign log noise: the stream–stream joins (q48/q72) emit a",
        "WARN `StreamingJoinHelper ... [INTERNAL_ERROR] Cannot evaluate",
        "expression: event_id` stack at query start. The helper probes",
        "every `<` in the join condition for a state-eviction time bound,",
        "and the event-id tie-break has none. It is unavoidable for a",
        "tie-broken self-join (a post-join filter is merged back into an",
        "inner join's condition by PushPredicateThroughJoin, and an outer",
        "join's tie-break must stay in the ON clause for null-extension",
        "semantics) and harmless: state is still evicted via the",
        "time-range bound. See the comments at both join sites in",
        "`queries/streaming_ext.py`.",
        "",
    ]
    for name, props in HEADLINERS.items():
        df = builders[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # keep the operator tree + the first ~40 detail lines; full dumps
        # of every attribute list would drown the signal
        head, _, details = plan.partition("\n\n")
        detail_lines = details.splitlines()[:40]
        plan_txt = head + "\n\n" + "\n".join(detail_lines)
        plan_txt = re.sub(r"#\d+L?", "", plan_txt)  # strip expr ids
        out.append(f"## {name}")
        out.append("")
        out.append("Scale properties:")
        for p in props:
            out.append(f"- {p}")
        out.append("")
        out.append("```")
        out.append(plan_txt.rstrip())
        out.append("```")
        out.append("")
    Path(_REPO, "EXPLAINS.md").write_text("\n".join(out))
    print(f"wrote EXPLAINS.md ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
