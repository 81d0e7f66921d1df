"""Latest-value-per-key (KTable materialization) — the reference's core op.

Reference semantics (``streams/Tables.scala:46-70``, ``streams/Table.scala:52-56``):
fold a keyed changelog into ``Map[K, V]`` where the last write wins; "last" is
changelog order, i.e. highest (offset) — here generalized to any ordering
column tuple.

Spark-first design: ``max_by(struct(payload), struct(order_cols))`` — a single
hash aggregation with map-side partial aggregation (each task keeps one
candidate row per key before the shuffle), so shuffle volume is
O(distinct keys), not O(rows). At 100 TB this is the right primitive: no
window function (which would sort entire partitions), no self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str] | None = None,
    unique_order: bool = False,
) -> DataFrame:
    """Return one row per key: the row with the greatest ``order_cols`` tuple.

    Ties on the full ``order_cols`` tuple are broken by the greatest value
    tuple so the result is deterministic (the reference never ties: Kafka
    offsets are unique per partition). When the caller KNOWS ``order_cols``
    is unique per key (an offset, a (ts, event_id) pair), pass
    ``unique_order=True``: the comparator struct then carries only the
    order columns, halving per-key aggregation state and map-side shuffle
    bytes for wide payloads — the tie-break columns are dead weight when
    no tie can occur.
    """
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in key_cols]
    tiebreak = (
        [] if unique_order
        else [F.col(c) for c in value_cols if c not in order_cols]
    )
    ordering: Column = F.struct(
        *[F.col(c) for c in order_cols], *tiebreak
    )
    picked = F.max_by(
        F.struct(*[F.col(c) for c in value_cols]), ordering
    ).alias("_latest")
    out = df.groupBy(*[F.col(k) for k in key_cols]).agg(picked)
    return out.select(
        *[F.col(k) for k in key_cols],
        *[F.col(f"_latest.{c}").alias(c) for c in value_cols],
    )
