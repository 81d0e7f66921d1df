"""Scale-path join strategies: bucketed co-located joins and skew salting.

These are the two techniques the 100 TB deployment leans on when the
built-in strategies (broadcast for small dims, AQE skew splitting) aren't
enough:

- **Bucketed co-located join** — both fact tables written bucketed by the
  join key: every join on that key is then shuffle-free (bucket k joins
  bucket k locally). At 100 TB the shuffle IS the cost; bucketing pays it
  once at write time and amortizes it over every subsequent join/agg on the
  same key.
- **Salted join** — for a skewed build side that is too big to broadcast:
  explode the small side's hot keys into S salted copies and scatter the
  big side's hot rows across the S salts, turning one straggler partition
  into S even ones. (AQE's skew-join split handles sort-merge cases
  automatically; explicit salting covers the cases AQE can't re-plan. An
  aggregation whose state can be pre-combined, such as the latest-by-key
  fold, needs none: its map-side partial aggregation already cuts a hot
  key to one row per task.)

The reference has no distributed shuffle at all (single-consumer,
per-partition streams — ``client/RecordStream.scala:14-18``), so both are
new-engine capabilities mandated by the 100 TB design point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fs2_kafka_streams_spark.operators.util import materialize
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table.

    Subsequent equi-joins/aggregations on ``bucket_cols`` between tables
    bucketed the same way run WITHOUT a shuffle (verified by the test suite
    via the physical plan). Sorting within buckets additionally enables
    shuffle-free sort-merge joins.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key — shuffle-free."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


def deterministic_salt(df: DataFrame, salt: int):
    """A Column scattering each row of ``df`` to one of ``salt`` sub-keys,
    as a DETERMINISTIC function of the row: ``pmod(xxhash64(<hashable
    columns>), salt)``. Task/stage retries after a shuffle-fetch failure
    recompute the same salt, so no row is lost or duplicated —
    ``spark_partition_id``/``monotonically_increasing_id`` salts are
    nondeterministic across recomputation, the classic
    nondeterministic-repartition hazard, exactly in the at-scale regime
    :func:`salted_join` targets.

    Map-typed columns are skipped (Spark forbids hash/xxhash64 over
    MapType at any nesting depth); the salt only needs to vary per row,
    and the remaining columns still provide that — worst case the residual
    skew degrades to duplicates-modulo-the-hashable-columns, same order as
    the per-duplicate bound. Raises when NO column is hashable.
    """
    def _hashable(dtype) -> bool:
        from pyspark.sql.types import ArrayType, MapType, StructType

        if isinstance(dtype, MapType):
            return False
        if isinstance(dtype, ArrayType):
            return _hashable(dtype.elementType)
        if isinstance(dtype, StructType):
            return all(_hashable(f.dataType) for f in dtype.fields)
        return True

    salt_cols = [f.name for f in df.schema.fields if _hashable(f.dataType)]
    if not salt_cols:
        raise ValueError(
            "salted_join: every column is map-typed; xxhash64 cannot "
            "derive a deterministic salt — add a hashable column"
        )
    return F.pmod(F.xxhash64(*salt_cols), F.lit(salt)).cast("int")


def detect_hot_keys(
    df: DataFrame,
    key_col: str,
    share: float = 0.01,
    top_n: int = 64,
) -> list:
    """The key VALUES carrying more than ``share`` of ``df``'s rows —
    hottest first, at most ``top_n``, as plain Python values ready for
    :func:`salted_join`'s ``hot_keys`` argument.

    Salting pays only for state that cannot be pre-combined, such as a
    join's hot-key output; the latest-by-key fold pre-combines on its own
    and takes no hot-key list (SCALE.md "Hot keys on the native fold").
    Salting every key multiplies the small side by the salt count, so
    salt the hot keys only. This is the detector: ONE map-side-combined
    count aggregation over ``df`` (each
    task pre-aggregates per key before the shuffle, so shuffle volume is
    O(distinct keys), not O(rows)), cached across the two reads (and
    released before returning) so the total-row sum and the share filter
    both read the O(keys) summary instead of re-scanning ``df``. The returned
    list is tiny by construction (keys above a ROW-SHARE threshold —
    at most ``1/share`` of them can exist) and is meant to be inlined as
    a literal predicate (broadcast-equivalent) on the salting side.

    A NULL key is a real skew candidate (the classic unset-field
    hot spot) and is returned as ``None``; the salting
    targeting treats ``None`` as "salt the NULL-key rows"
    (:func:`hot_key_condition`).

    Production shape: a changelog's hot keys are stable and observable
    (the reference's 4-hot-user fixture, ``ReadOnlyTableSpec.scala:41-54``
    — the same users stay hot across the test's whole stream), so detect
    on yesterday's partition / a sample and reuse the list; re-detect on
    drift, not per query.
    """
    if not 0 < share < 1:
        raise ValueError(f"share must be in (0, 1), got {share}")
    from pyspark.storagelevel import StorageLevel

    from fs2_kafka_streams_spark.functions.buckets import quoted_col

    # persist (NOT localCheckpoint): the CacheManager path is the one a
    # finally-block unpersist can actually release — unpersist() on a
    # localCheckpointed frame is a silent no-op, which is exactly the
    # long-lived-session block-storage leak the r9 advisory flagged
    counts = (
        df.groupBy(quoted_col(key_col).alias(key_col))
        .agg(F.count(F.lit(1)).alias("_n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        total = counts.agg(F.sum("_n")).collect()[0][0] or 0
        if total == 0:
            return []
        rows = (
            counts.filter(F.col("_n") > share * total)
            .orderBy(F.col("_n").desc())
            .limit(top_n)
            .collect()
        )
        return [r[key_col] for r in rows]
    finally:
        # release the cached blocks once both collects have read them —
        # repeated detections in a long-lived session must not
        # accumulate executor block storage
        counts.unpersist(blocking=True)


def hot_key_condition(key_col, hot_keys) -> "F.Column":
    """Boolean Column: does this row's ``key_col`` belong to ``hot_keys``?

    The targeting predicate of :func:`salted_join`'s ``hot_keys`` form.
    ``None`` in the list means the NULL key group —
    ``isin`` alone never matches NULL (SQL ``=`` semantics), which would
    silently leave the one key :func:`detect_hot_keys` flagged as hot
    unsalted."""
    col = F.col(key_col) if isinstance(key_col, str) else key_col
    vals = [k for k in hot_keys if k is not None]
    cond = col.isin(vals) if vals else F.lit(False)
    if any(k is None for k in hot_keys):
        cond = cond | col.isNull()
    return cond


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
    hot_threshold: int | None = None,
    hot_keys=None,
) -> DataFrame:
    """Equi-join a skew-heavy big side against a non-broadcastable small
    side by salting: the big side scatters each row to one of ``salt``
    sub-keys, the small side replicates each row to all ``salt`` sub-keys,
    so a hot key's rows spread over ``salt`` partitions instead of one.

    Correctness: every big row meets exactly one copy of its matching small
    row (its salt), so multiplicities are preserved for inner/left joins.

    The salt is a DETERMINISTIC function of the row
    (``xxhash64(all columns)``): task/stage retries after a shuffle-fetch
    failure recompute the same salt, so no join row is lost or duplicated —
    ``spark_partition_id``/``monotonically_increasing_id`` salts are
    nondeterministic across recomputation, the classic
    nondeterministic-repartition hazard, exactly in the at-scale regime this
    operator targets. Heavily duplicated identical rows hash to one salt;
    that residual skew is bounded by the duplicate count of a single value
    combination.

    ``hot_threshold`` selects the hot-keys-only form the module doc
    describes: one count aggregation over the big side finds keys with
    more than that many rows; ONLY those keys are salted/replicated,
    everything else keeps ``_salt = 0`` — the small side's blow-up is
    proportional to the hot-key set (a handful of keys at the 100 TB
    design point, broadcast back to both sides), not ×salt across the
    whole table. ``None`` (default) salts everything: simpler, no extra
    pass over the big side, right when the small side is genuinely small.

    ``hot_keys`` is the PRE-DETECTED form of the same targeting: an
    explicit key-value list — typically :func:`detect_hot_keys` output,
    computed once on a stable changelog and reused — salted via the shared
    :func:`hot_key_condition` literal predicate, skipping the count pass
    entirely. Mutually exclusive with ``hot_threshold``.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (small side is replicated)")
    if hot_threshold is not None and hot_keys is not None:
        raise ValueError(
            "pass hot_threshold (detect inline) OR hot_keys (pre-detected "
            "list), not both"
        )
    clash = {"_salt", "_salts", "_hot"} & (
        set(big.columns) | set(small.columns)
    )
    if clash:
        # a real payload column with one of the internal names would be
        # silently overwritten and then dropped from the result — fail at
        # the boundary with the names (scd.changelog_history convention)
        raise ValueError(
            f"salted_join reserves column name(s) {sorted(clash)}; rename "
            "the conflicting input column(s)"
        )

    salt_expr = deterministic_salt(big, salt)
    if hot_keys is not None:
        # literal hot set: no count pass, no broadcast join — the list is
        # tiny by detect_hot_keys construction (≤ 1/share keys)
        cond = hot_key_condition(key, hot_keys)
        big_s = big.withColumn(
            "_salt",
            F.when(cond, salt_expr).otherwise(F.lit(0)).cast("int"),
        )
        small_s = (
            small.withColumn(
                "_salts",
                F.when(
                    cond, F.sequence(F.lit(0), F.lit(salt - 1))
                ).otherwise(F.array(F.lit(0))),
            )
            .withColumn("_salt", F.explode("_salts"))
            .withColumn("_salt", F.col("_salt").cast("int"))
            .drop("_salts")
        )
        return big_s.join(small_s, on=[key, "_salt"], how=how).drop("_salt")
    if hot_threshold is None:
        big_s = big.withColumn("_salt", salt_expr)
        small_s = small.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        out = big_s.join(small_s, on=[key, "_salt"], how=how)
        return out.drop("_salt")

    hot = (
        big.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_threshold)
        .select(key, F.lit(True).alias("_hot"))
        # materialize once: hot is broadcast into TWO joins below, and
        # without cutting lineage the "one count pass over the big side"
        # claim depends on exchange reuse canonicalizing both subplans —
        # localCheckpoint makes it structural (same technique as
        # operators/dedup.py's shared shingle frame)
        .transform(materialize)
    )
    big_s = (
        big.join(F.broadcast(hot), on=key, how="left")
        .withColumn(
            "_salt",
            F.when(F.col("_hot").isNotNull(), salt_expr)
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("_hot")
    )
    small_s = (
        small.join(F.broadcast(hot), on=key, how="left")
        .withColumn(
            "_salts",
            F.when(
                F.col("_hot").isNotNull(),
                F.sequence(F.lit(0), F.lit(salt - 1)),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("_salt", F.explode("_salts"))
        .withColumn("_salt", F.col("_salt").cast("int"))
        .drop("_salts", "_hot")
    )
    out = big_s.join(small_s, on=[key, "_salt"], how=how)
    return out.drop("_salt")
