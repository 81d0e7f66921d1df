"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (latest-event-per-user — the
reference's KTable materialization semantic, ``streams/Tables.scala:46-70``)
on sf0.001. ``queries()`` / ``oracle_sql()`` expose the full declared query
inventory from ``fs2_kafka_streams_spark.queries`` (SURVEY.md §2 Part B).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from fs2_kafka_streams_spark.queries import driver_registry, load_all  # noqa: E402,F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry = load_all()
    return registry["q17_latest_by_key"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family from SURVEY.md §2.

    The curated registry: its first 50 entries are the driver's
    correctness window, and the operators of one family are merged into a
    multi-operator entry (a tagged union or key join of their arms, built
    next to those arms) or written as one query over one scan, so the
    whole surface — including every streaming/UDF/LLM operator — fits
    inside it. ``load_all()`` additionally holds two ``"local"``-tagged
    checks (q04, q42d), which only the local pytest gate runs.
    """
    return {name: spec.build for name, spec in driver_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted → rows-only check)."""
    return {
        name: spec.oracle
        for name, spec in driver_registry().items()
        if spec.oracle is not None
    }
