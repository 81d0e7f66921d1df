"""The local correctness gate: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 compare (row count + schema + order-insensitive
value multiset) at sf0.001 for speed; `SPARK_GRAFT_TEST_SF` overrides.
"""

from __future__ import annotations

import os

import pytest

from fs2_kafka_streams_spark.queries import load_all
from fs2_kafka_streams_spark.testing import (
    UNION_ARMS,
    arm_rows,
    compare_rows,
    driver_gate,
    duck_connect,
    run_compare,
)

from tests.conftest import REPO, SF_SMOKE

SF = os.environ.get("SPARK_GRAFT_TEST_SF", SF_SMOKE)

REGISTRY = load_all()


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF)
    yield con
    con.close()


#: merged entry -> its collected (cols, types, rows) on Spark and DuckDB,
#: built once for all of its arms
_MERGED: dict[str, tuple] = {}


def _arm_compare(spark, duck, name):
    entry = UNION_ARMS[name][0]
    if entry not in _MERGED:
        spec = REGISTRY[entry]
        df = spec.build(spark, SF)
        rel = duck.sql(spec.oracle)
        spark_rows = [tuple(r) for r in df.collect()]
        _MERGED[entry] = (
            (df.columns, [t for _, t in df.dtypes], spark_rows),
            (list(rel.columns), [str(t) for t in rel.types], rel.fetchall()),
        )
    halves = []
    for cols, types, rows in _MERGED[entry]:
        halves += [cols, types, arm_rows(name, cols, rows)]
    return compare_rows(name, *halves)


@pytest.mark.parametrize("name", sorted([*REGISTRY, *UNION_ARMS]))
def test_query_matches_oracle(spark, duck, name):
    """Every registered spec, and each arm of a union-merged entry on its
    own, cut from the entry's results."""
    if name in UNION_ARMS:
        res = _arm_compare(spark, duck, name)
    else:
        res = run_compare(spark, SF, REGISTRY[name], con=duck)
    assert res.ok, f"{name}: {res.detail}"


def test_driver_export_is_pinned():
    """The exported entries, in order, are exactly the committed driver-sim
    rows; only the ``"local"`` specs stay out of the export — the
    keyed-merge arms (their merged oracles join USING (key), which drops
    keys) and two checks an exported entry covers on fewer rows."""
    import json

    from fs2_kafka_streams_spark.queries import driver_registry

    sim = json.loads((REPO / "CORRECTNESS_SIM.json").read_text())
    assert list(driver_registry()) == list(sim)
    assert sorted(n for n, s in REGISTRY.items() if "local" in s.tags) == [
        "q04_project_expression",
        "q13b_percentiles",
        "q13c_stats_aggregates",
        "q15_approx_count_distinct",
        "q15b_approx_percentile",
        "q29_array_functions",
        "q29c_array_hof",
        "q29d_string_agg",
        "q30b_map_hof",
        "q32_dead_letter_split",
        "q42d_dedup_clusters",
    ]


def test_array_output_column_is_rejected(spark):
    """Regression: the driver canonicalizer crashes on top-level array cells
    (round-1 q25/q29). The local gate must fail such schemas, not stringify
    them."""
    from fs2_kafka_streams_spark.queries import QuerySpec

    spec = QuerySpec(
        name="_bad_array_out",
        build=lambda sp, _sf: sp.range(3).selectExpr(
            "id", "array(id, id + 1) AS arr"
        ),
        oracle="SELECT 1",
    )
    res = run_compare(spark, SF, spec)
    assert not res.ok and "canonicalizer" in res.detail


def test_driver_gate_fails_on_one_value_off(spark):
    """The driver-gate compare must catch a single differing cell: same
    row count, same columns, one value off in the oracle -> hash mismatch
    (and the faithful oracle passes)."""
    from fs2_kafka_streams_spark.queries import QuerySpec

    def spec(oracle):
        return QuerySpec(
            name="_one_value_off",
            build=lambda sp, _sf: sp.range(3).selectExpr("id", "id * 2 AS v"),
            oracle=oracle,
        )

    good = "SELECT range AS id, range * 2 AS v FROM range(3)"
    bad = "SELECT range AS id, range * 2 + (range = 2)::BIGINT AS v FROM range(3)"
    assert driver_gate(spark, SF, spec(good))
    res = driver_gate(spark, SF, spec(bad))
    assert res.rows_match and res.schema_match
    assert not res.hash_match and not res and res.why == "hash"
