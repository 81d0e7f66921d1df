"""The local correctness gate: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 compare (row count + schema + order-insensitive
value multiset) at sf0.001 for speed; `SPARK_GRAFT_TEST_SF` overrides.
"""

from __future__ import annotations

import os

import pytest

from fs2_kafka_streams_spark.queries import load_all
from fs2_kafka_streams_spark.testing import (
    driver_gate,
    duck_connect,
    run_compare,
)

from tests.conftest import SF_SMOKE

SF = os.environ.get("SPARK_GRAFT_TEST_SF", SF_SMOKE)

REGISTRY = load_all()


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    res = run_compare(spark, SF, REGISTRY[name], con=duck)
    assert res.ok, f"{name}: {res.detail}"


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
