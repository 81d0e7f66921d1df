"""Relational query surface (SURVEY §2 Part B, Q01–Q32).

Pure DataFrame/SQL — every operator compiles to Catalyst built-ins: predicate
pushdown, column pruning, join selection (broadcast vs sort-merge), and AQE
come for free. No RDDs, no Python row loops.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.catalog import Catalog
from fs2_kafka_streams_spark.canonical import (
    SQL_REVENUE,
    davg,
    dec2,
    dsum,
    dsum_expr,
    measure,
    revenue_expr,
    sql_davg,
    sql_dec2,
    sql_dsum,
    sql_json_strict,
    sql_dsum_expr,
    sql_measure,
)
from fs2_kafka_streams_spark.operators.asof_join import asof_join
from fs2_kafka_streams_spark.operators.util import materialize as _materialize
from fs2_kafka_streams_spark.operators.util import spread
from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key
from fs2_kafka_streams_spark.queries import query


def _cat(spark, sf_dir) -> Catalog:
    return Catalog(spark, sf_dir)


# --------------------------------------------------------------------------
# Q01–Q04: scan / project / filter / expression projection
# --------------------------------------------------------------------------


@query(
    "q01_scan_project",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("scan",),
)
def q01_scan_project(spark, sf_dir):
    """Parquet scan + column projection; pruning reaches the reader."""
    return _cat(spark, sf_dir).region.select("r_regionkey", "r_name")


@query(
    "q02_filter_project",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_extendedprice,
           cast(cast({SQL_REVENUE} as string) as double) AS revenue
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.08
    """,
    tags=("filter", "project"),
)
def q02_filter_project(spark, sf_dir):
    """Conjunctive pushed-down filter + derived-column projection (merge of
    q02/q04): the predicate reaches the parquet scan, the revenue expression
    is computed exactly in decimal."""
    li = _cat(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_quantity") > 30) & F.col("l_discount").between(0.02, 0.08)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_discount",
        "l_extendedprice",
        revenue_expr().cast("double").alias("revenue"),
    )


@query(
    "q03_filter_in_null",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'O') AND o_orderpriority IS NOT NULL
    """,
    tags=("filter",),
)
def q03_filter_in_null(spark, sf_dir):
    """IN-list + IS NULL predicates."""
    o = _cat(spark, sf_dir).orders
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_orderpriority").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


@query(
    "q04_project_expression",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           cast(cast({SQL_REVENUE} as string) as double) AS revenue
    FROM lineitem
    """,
    tags=("project", "local"),
)
def q04_project_expression(spark, sf_dir):
    """Derived-column projection (revenue), computed exactly in decimal.
    Local-only: it checks revenue on every lineitem row, q02 only on the
    rows its filter keeps."""
    li = _cat(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue_expr().cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# Q05–Q12: the join family
# --------------------------------------------------------------------------


_JOIN_TYPE_COLS = "c_custkey, c_name, o_orderkey, o_totalprice"


@query(
    "q05_join_types",
    oracle=f"""
    SELECT 'inner' AS join_type, {_JOIN_TYPE_COLS}
    FROM customer JOIN orders ON c_custkey = o_custkey
    UNION ALL
    SELECT 'left', {_JOIN_TYPE_COLS}
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    UNION ALL
    SELECT 'full', {_JOIN_TYPE_COLS}
    FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
    UNION ALL
    SELECT 'semi', c_custkey, c_name, NULL, NULL FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'anti', c_custkey, c_name, NULL, NULL FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def q05_join_types(spark, sf_dir):
    """The equi-join type family in one entry (merge of q05/q08/q08b/q09/
    q10): inner, left outer (enrichment misses stay NULL — the reference's
    ``Option[V] = None``, ``ReadOnlyTableSpec.scala:77-79``), full outer,
    left semi (EXISTS), left anti (NOT EXISTS), discriminated by
    ``join_type``. Catalyst/AQE picks broadcast vs sort-merge by size."""
    c = _cat(spark, sf_dir)
    cond = F.col("c_custkey") == F.col("o_custkey")
    sel = ["c_custkey", "c_name", "o_orderkey", "o_totalprice"]

    def arm(join_type, spark_type):
        df = c.customer.join(c.orders, cond, spark_type)
        if spark_type in ("left_semi", "left_anti"):
            df = df.select(
                "c_custkey",
                "c_name",
                F.lit(None).cast("long").alias("o_orderkey"),
                F.lit(None).cast("double").alias("o_totalprice"),
            )
        else:
            df = df.select(*sel)
        return df.select(F.lit(join_type).alias("join_type"), *sel)

    return (
        arm("inner", "inner")
        .unionAll(arm("left", "left"))
        .unionAll(arm("full", "full"))
        .unionAll(arm("semi", "left_semi"))
        .unionAll(arm("anti", "left_anti"))
    )


@query(
    "q07_join_multiway_broadcast",
    oracle=f"""
    SELECT n_name, {sql_dsum_expr(SQL_REVENUE)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items,
           n_nationkey, r_name
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, n_nationkey, r_name
    """,
    tags=("join", "agg"),
)
def q07_join_multiway_broadcast(spark, sf_dir):
    """Multiway fact join + broadcast dim join: lineitem ⋈ orders ⋈
    customer ⋈ broadcast(nation ⋈ broadcast(region)) → revenue per nation,
    with the nation's key and region name.

    Fact-to-fact joins shuffle on their keys; both dims are broadcast — the
    small dim ships to every task, no shuffle of the big side (at 100 TB
    the only sane plan for dim joins). The region name rides on the nation
    dim before the multiway join, so ``nation`` is read once.
    """
    c = _cat(spark, sf_dir)
    nation = c.nation.join(
        F.broadcast(c.region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name", "r_name")
    return (
        c.lineitem.join(c.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "n_nationkey", "r_name")
        .agg(
            dsum_expr(revenue_expr()).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select("n_name", "revenue", "n_items", "n_nationkey", "r_name")
    )


@query(
    "q11_join_range",
    oracle=f"""
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem JOIN part
      ON p_partkey = l_partkey AND l_quantity < p_size
    GROUP BY p_brand
    """,
    tags=("join",),
)
def q11_join_range(spark, sf_dir):
    """Equi-join with a range residual (theta) predicate — stays a hash/SMJ
    join on the equi key with the range condition as a post-filter, never a
    cartesian product."""
    c = _cat(spark, sf_dir)
    return (
        c.lineitem.join(
            c.part,
            (F.col("p_partkey") == F.col("l_partkey"))
            & (F.col("l_quantity") < F.col("p_size")),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@query(
    "q12_join_asof",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        FROM orders
      ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, e.ts,
           r.o_orderkey, r.o_orderdate, r.o_totalprice
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    WHERE e.ts IS NOT NULL
    UNION ALL
    -- NULL probe times stay UNMATCHED (asof_join's documented contract:
    -- the ASOF inequality is never true for NULL, so the left row is kept
    -- with NULL payload). DuckDB's own ASOF instead hands a NULL probe the
    -- LATEST right row — NULL sorts last in its range search — so the
    -- oracle spells out the ANSI-consistent semantics the operator uses.
    SELECT event_id, user_id, ts,
           CAST(NULL AS BIGINT), CAST(NULL AS DATE), CAST(NULL AS DOUBLE)
    FROM events WHERE ts IS NULL
    """,
    tags=("join", "asof"),
)
def q12_join_asof(spark, sf_dir):
    """As-of join: each event enriched with the customer's latest order
    at-or-before the event time (the reference's stream-table join
    re-expressed on event time, ``ReadOnlyTableSpec.scala:77-79``).

    The right side is deduplicated to one row per (custkey, orderdate) so
    ties are deterministic on both engines.
    """
    c = _cat(spark, sf_dir)
    latest_order = latest_by_key(
        c.orders.select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        key_cols=["o_custkey", "o_orderdate"],
        order_cols=["o_orderkey"],
        value_cols=["o_orderkey", "o_totalprice"],
        unique_order=True,  # o_orderkey is globally unique — no ties
    )
    return asof_join(
        c.events.select("event_id", "user_id", "ts"),
        latest_order,
        left_time="ts",
        right_time="o_orderdate",
        left_by=["user_id"],
        right_by=["o_custkey"],
        right_values=["o_orderkey", "o_orderdate", "o_totalprice"],
    )


# --------------------------------------------------------------------------
# Q13–Q16: aggregation family
# --------------------------------------------------------------------------


@query(
    "q13_agg_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum_expr(SQL_REVENUE)} AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def q13_agg_tpch_q1(spark, sf_dir):
    """TPC-H Q1 shape: hash aggregate with partial (map-side) aggregation —
    shuffle volume is O(groups), not O(rows)."""
    li = _cat(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum_expr(revenue_expr()).alias("sum_disc_price"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q14_count_distinct",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY 1
    """,
    tags=("agg",),
)
def q14_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT) per month — Spark expands to a two-stage aggregate."""
    li = _cat(spark, sf_dir).lineitem
    return li.groupBy(
        # DATE, not TIMESTAMP, for the truncated month: date32 carries no
        # nanosecond range bound, so a month-start BELOW the parquet-ns
        # floor (trunc(1677-09-22, 'month') = 1677-09-01) survives the
        # Arrow collection that a ns timestamp crashes on (r10 relational
        # far-date sweep). F.trunc is DATE->DATE with no timestamp
        # intermediate at all (r10 advisory): the previous
        # date_trunc+cast roundtrip relied on empirically-pinned
        # TZ-invariance of an LTZ hop; trunc is TZ-free by construction
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("ship_month")
    ).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_Q15_SQL = """
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           true AS within_tol
    FROM orders
    """


@query(
    "q15_approx_count_distinct",
    oracle=_Q15_SQL,
    tags=("agg", "approx", "local"),
)
def q15_approx_count_distinct(spark, sf_dir):
    """HLL++ approximate distinct. The sketch differs between engines, so the
    hash-checked contract is (exact count, approx-within-5%-of-exact)."""
    o = _cat(spark, sf_dir).orders
    return o.agg(
        F.countDistinct("o_custkey").alias("n_exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
    ).select(
        "n_exact",
        (
            F.abs(F.col("_approx") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_tol"),
    )


_Q13C_SQL = f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             {sql_dsum('l_quantity')} AS sx,
             cast(cast(sum({sql_dec2('l_quantity')}
                      * cast({sql_dec2('l_quantity')} as decimal(19,2)))
                  as string) as double) AS sxx,
             {sql_dsum('l_discount')} AS sy,
             cast(cast(sum({sql_dec2('l_quantity')}
                      * cast({sql_dec2('l_discount')} as decimal(19,2)))
                  as string) as double) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CASE WHEN n > 1 THEN (sxx - sx * sx / n) / (n - 1) END AS var_qty,
           CASE WHEN n > 1
                THEN sqrt((sxx - sx * sx / n) / (n - 1)) END AS stddev_qty,
           CASE WHEN n > 1
                THEN (sxy - sx * sy / n) / (n - 1) END AS covar_qty_disc
    FROM s
    """


@query(
    "q13c_stats_aggregates",
    oracle=_Q13C_SQL,
    tags=("agg", "stats", "local"),
)
def q13c_stats_aggregates(spark, sf_dir):
    """Statistics aggregates (variance/stddev/covariance) computed from
    EXACT decimal cross-sums, so the final values are single IEEE chains —
    hash-checkable cross-engine. The built-in `var_samp`/`covar_samp`
    accumulate in floats (partial-aggregation order changes last ulps), so
    the exact-sum formulation is also the 100 TB-correct one: the decimal
    sums are associative, partial aggregation can't perturb them."""
    li = _cat(spark, sf_dir).lineitem
    q, d = dec2("l_quantity"), dec2("l_discount")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(d).cast("double").alias("sy"),
        F.sum(q * d).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "sxy"])
    # sample variance is undefined for n = 1: NULL on both engines by an
    # EXPLICIT guard — ANSI Spark throws DIVIDE_BY_ZERO on (n - 1) while
    # DuckDB silently yields a value, so neither engine default is usable
    # (r10 tiny-corpus sweep)
    var = F.when(n > 1, (sxx - sx * sx / n) / (n - 1))
    return agg.select(
        "l_returnflag",
        "n",
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
        F.when(n > 1, (sxy - sx * sy / n) / (n - 1)).alias("covar_qty_disc"),
    )


_Q15B_SQL = """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_exact,
           CASE WHEN quantile_cont(l_quantity, 0.5) IS NOT NULL
                THEN true END AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """


@query(
    "q15b_approx_percentile",
    oracle=_Q15B_SQL,
    tags=("agg", "approx", "percentile", "local"),
)
def q15b_approx_percentile(spark, sf_dir):
    """Sketch-based percentile (the one-pass mergeable 100 TB path; exact
    percentile needs a per-group sort). Sketches differ across engines, so
    the hash-checked contract mirrors q15: (exact median, approx within 5%).
    An all-NULL-quantity group has a NULL median on both engines, and its
    tolerance flag is NULL too (NULL comparison), not a literal true —
    r10 hostile-TPCH sweep."""
    li = _cat(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_exact"),
            F.expr("approx_percentile(l_quantity, 0.5, 1000)").alias("_approx"),
            # the sketch's reference point: a DISCRETE median (a group
            # member). The interpolated median is the wrong yardstick for
            # tiny groups — a 2-row group interpolates to a value no
            # sketch can return, failing the 5% claim spuriously (r10
            # tiny-corpus sweep). Accuracy 1e6 keeps the sketch buffer
            # BOUNDED (r10 advisory: int32-max accuracy ≈ exact aggregate
            # whose buffer grows with the group, contradicting the
            # one-pass-mergeable rationale): exact for groups ≤ 1M rows,
            # rank error ≤ 1e-6 beyond — orders of magnitude inside the
            # 5% tolerance band either way
            F.expr(
                "approx_percentile(l_quantity, 0.5, 1000000)"
            ).alias("_exact_disc"),
        )
        .select(
            "l_returnflag",
            "median_exact",
            (
                F.abs(F.col("_approx") - F.col("_exact_disc"))
                <= 0.05 * F.greatest(F.abs(F.col("_exact_disc")), F.lit(1.0))
            ).alias("within_tol"),
        )
    )


_Q13B_SQL = """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25_qty,
           quantile_cont(l_quantity, 0.50) AS median_qty,
           quantile_cont(l_quantity, 0.75) AS p75_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """


@query(
    "q13b_percentiles",
    oracle=_Q13B_SQL,
    tags=("agg", "percentile", "local"),
)
def q13b_percentiles(spark, sf_dir):
    """Exact percentiles (sort-based) per group. Cross-engine determinism:
    the probes are power-of-two fractions and l_quantity is integer-valued,
    so linear interpolation is exact IEEE on both engines regardless of the
    algebraic form each uses. At 100 TB prefer `approx_percentile`
    (t-digest-style sketch, one pass, mergeable) — exact percentile
    requires a per-group sort."""
    li = _cat(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
        F.expr("percentile(l_quantity, 0.50)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@query(
    "q13b_stats_percentiles",
    oracle=f"""
    SELECT * FROM ({_Q13B_SQL.strip()}) a
    JOIN ({_Q13C_SQL.strip()}) b USING (l_returnflag)
    JOIN ({_Q15B_SQL.strip()}) c USING (l_returnflag)
    CROSS JOIN (SELECT n_exact AS acd_exact, within_tol AS acd_within_tol
                FROM ({_Q15_SQL.strip()})) d
    """,
    tags=("agg", "stats", "percentile", "approx"),
)
def q13b_stats_percentiles(spark, sf_dir):
    """Statistics + percentile + approx-sketch aggregates in one entry
    (merge of q13b/q13c/q15b/q15): exact percentiles, variance/stddev/
    covariance from exact decimal cross-sums, approx_percentile-within-
    tolerance, and the global approx_count_distinct-within-tolerance
    (cross-joined single row, columns renamed acd_*).

    FUSED single-aggregation build (r11 optimization, guide §2.4): the
    a/b/c variants are all ``groupBy(l_returnflag)`` aggregations of the
    same lineitem scan — one scan + one shuffle carries every buffer
    instead of three of each plus two joins. The three exact percentiles
    and q15b's exact median share ONE sort buffer via
    ``percentile(col, array(...))`` (same Percentile expression, same
    interpolation — bit-identical to the scalar calls). Equivalence with
    the join-merge oracle is total: grouped keys are unique, and the
    inner join's drop of the NULL-returnflag group is replayed by the
    pre-aggregation filter. All other expressions are verbatim from the
    variants (q13c's exact decimal cross-sums and n=1 NULL guard, q15b's
    discrete-median tolerance contract)."""
    li = _cat(spark, sf_dir).lineitem.filter(F.col("l_returnflag").isNotNull())
    q, d_ = dec2("l_quantity"), dec2("l_discount")
    agg = li.groupBy("l_returnflag").agg(
        # q13b: one shared sort buffer for all three exact percentiles
        # (and q15b's median_exact, which is the same 0.5 probe)
        F.expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").alias(
            "_pcts"
        ),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        # q13c: exact decimal cross-sums
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(d_).cast("double").alias("sy"),
        F.sum(q * d_).cast("double").alias("sxy"),
        # q15b: bounded sketches (see the variant's accuracy rationale)
        F.expr("approx_percentile(l_quantity, 0.5, 1000)").alias("_approx"),
        F.expr("approx_percentile(l_quantity, 0.5, 1000000)").alias(
            "_exact_disc"
        ),
    )
    n, sx, sxx, sy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "sxy"])
    # sample variance undefined for n = 1: explicit NULL on both engines
    # (q13c's contract — ANSI Spark would throw DIVIDE_BY_ZERO)
    var = F.when(n > 1, (sxx - sx * sx / n) / (n - 1))
    abc = agg.select(
        "l_returnflag",
        F.col("_pcts")[0].alias("p25_qty"),
        F.col("_pcts")[1].alias("median_qty"),
        F.col("_pcts")[2].alias("p75_qty"),
        "min_price",
        "max_price",
        "n",
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
        F.when(n > 1, (sxy - sx * sy / n) / (n - 1)).alias("covar_qty_disc"),
        F.col("_pcts")[1].alias("median_exact"),
        (
            F.abs(F.col("_approx") - F.col("_exact_disc"))
            <= 0.05 * F.greatest(F.abs(F.col("_exact_disc")), F.lit(1.0))
        ).alias("within_tol"),
    )
    d = q15_approx_count_distinct(spark, sf_dir).select(
        F.col("n_exact").alias("acd_exact"),
        F.col("within_tol").alias("acd_within_tol"),
    )
    return abc.crossJoin(F.broadcast(d))


@query(
    "q16_rollup_cube",
    oracle=f"""
    SELECT 'rollup' AS tag, r_name AS k1, n_name AS k2,
           {sql_dsum('c_acctbal')} AS agg_sum,
           CAST(count(*) AS BIGINT) AS agg_n
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    UNION ALL
    SELECT 'cube', o_orderstatus, o_orderpriority,
           {sql_dsum('o_totalprice')}, CAST(count(*) AS BIGINT)
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "groupingsets"),
)
def q16_rollup_cube(spark, sf_dir):
    """ROLLUP (region → nation hierarchy) + CUBE grouping sets in one entry
    (merge of q16/q16b), with generic (k1, k2, agg_sum, agg_n) columns and
    a discriminator tag."""
    c = _cat(spark, sf_dir)
    rollup = (
        c.customer.join(
            F.broadcast(c.nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(c.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            dsum("c_acctbal").alias("sum_bal"),
            F.count(F.lit(1)).alias("n_cust"),
        )
    )
    cube = c.orders.cube("o_orderstatus", "o_orderpriority").agg(
        dsum("o_totalprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return rollup.select(
        F.lit("rollup").alias("tag"),
        F.col("r_name").alias("k1"),
        F.col("n_name").alias("k2"),
        F.col("sum_bal").alias("agg_sum"),
        F.col("n_cust").alias("agg_n"),
    ).unionAll(
        cube.select(
            F.lit("cube").alias("tag"),
            F.col("o_orderstatus").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            F.col("sum_price").alias("agg_sum"),
            F.col("n_orders").alias("agg_n"),
        )
    )


@query(
    "q16c_pivot_map",
    oracle=f"""
    SELECT o_orderpriority,
           cast(cast(sum({sql_dec2('o_totalprice')})
                FILTER (WHERE o_orderstatus = 'F') as string) as double) AS F,
           cast(cast(sum({sql_dec2('o_totalprice')})
                FILTER (WHERE o_orderstatus = 'O') as string) as double) AS O,
           cast(cast(sum({sql_dec2('o_totalprice')})
                FILTER (WHERE o_orderstatus = 'P') as string) as double) AS P,
           nullif(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT), 0)
             AS n_f,
           nullif(CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT), 0)
             AS n_o,
           nullif(CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT), 0)
             AS n_p,
           coalesce(
             string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus),
             '') AS statuses
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot", "map"),
)
def q16c_pivot_map(spark, sf_dir):
    """Pivot (long→wide conditional aggregation) + map_from_entries /
    element_at / map_keys over per-priority status counts.

    The pivot values are declared explicitly — at scale an undeclared
    pivot needs an extra distinct pass to discover columns. Both halves
    work at the (priority, status) grain Spark's pivot rewrite aggregates
    at anyway, so one scan and one partial aggregation feed both: the
    status entries are collected per priority by a window and ride along
    as a grouping column of the pivot (one more exchange, on priority).

    The oracle mirrors the *extracted* map values (missing key → NULL),
    since MAP column ordering is not comparable across engines.

    NULL-key contract (r10 hostile-TPCH sweep, same class as q30b/q32):
    Spark maps reject NULL keys by definition ([NULL_MAP_KEY] crash), so a
    NULL status never becomes a map entry — the ``when`` guard makes
    collect_list skip it while the GROUP itself survives (an
    all-NULL-status priority still emits a row with an empty map, which is
    why the oracle coalesces its statuses string to '').
    """
    o = Catalog(spark, sf_dir).orders
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(dec2("o_totalprice")).alias("_sum"),
    )
    entries = F.sort_array(
        F.collect_list(
            F.when(
                F.col("o_orderstatus").isNotNull(),
                F.struct("o_orderstatus", "cnt"),
            )
        ).over(W.partitionBy("o_orderpriority"))
    )
    wide = (
        counts.withColumn("_entries", entries)
        .groupBy("o_orderpriority", "_entries")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("_sum").cast("double"))
    )
    status_map = F.map_from_entries("_entries")
    return wide.select(
        "o_orderpriority",
        "F",
        "O",
        "P",
        F.element_at(status_map, "F").alias("n_f"),
        F.element_at(status_map, "O").alias("n_o"),
        F.element_at(status_map, "P").alias("n_p"),
        F.array_join(F.sort_array(F.map_keys(status_map)), ",").alias(
            "statuses"
        ),
    )


@query(
    "q17_latest_by_key",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value, props
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("core", "agg"),
)
def q17_latest_by_key(spark, sf_dir):
    """Latest event per user — the reference's table materialization (A7).

    Reference: fold-changelog-into-map, last write wins
    (``streams/Tables.scala:46-70``, ``streams/Table.scala:52-56``); "last" =
    highest (ts, event_id). One hash aggregation via ``max_by`` — shuffle
    volume O(distinct users), not O(events).
    """
    events = Catalog(spark, sf_dir).events
    return latest_by_key(
        events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "event_type", "value", "props"],
        unique_order=True,  # event_id is unique — the payload (props) would
        # otherwise ride in the comparator struct too, doubling agg state
    )


@query(
    "q17b_latest_by_key_partitioned",
    oracle="""
    SELECT part, user_id, event_id, ts, event_type, value
    FROM (
      SELECT event_id % 4 AS part, user_id, event_id, ts, event_type, value,
             row_number() OVER (
               PARTITION BY event_id % 4, user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("core", "agg"),
)
def q17b_latest_by_key_partitioned(spark, sf_dir):
    """Per-partition table materialization (A8): one independent latest-by-key
    table per source partition (``streams/Tables.scala:17-44``). The Kafka
    partition becomes part of the grouping key — state stays co-partitioned
    with the source, exactly the reference's partition-local tables. Here the
    synthetic partition is the replay bucket (event_id % 4)."""
    events = Catalog(spark, sf_dir).events.withColumn(
        "part", F.col("event_id") % 4
    )
    return latest_by_key(
        events,
        key_cols=["part", "user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "event_type", "value"],
        unique_order=True,
    )


# --------------------------------------------------------------------------
# Q18–Q23: lookups, window functions, top-k, sort/limit
# --------------------------------------------------------------------------

MULTIGET_KEYS = [0, 1, 2, 3, 42, 999_999_999]


@query(
    "q18_multi_get",
    oracle=f"""
    WITH latest AS (
      SELECT user_id, event_id, ts, event_type, value
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ), keys(user_id) AS (VALUES {", ".join(f"({k})" for k in MULTIGET_KEYS)})
    SELECT CAST(keys.user_id AS BIGINT) AS user_id,
           latest.event_id, latest.ts, latest.event_type, latest.value
    FROM keys LEFT JOIN latest ON keys.user_id = latest.user_id
    """,
    tags=("core", "lookup"),
)
def q18_multi_get(spark, sf_dir):
    """Multi-get (A11, ``streams/Table.scala:61-62``): batched point lookup
    preserving requested keys; missing keys surface as NULL rows.

    Routed through :meth:`MaterializedTable.get_all`: the (tiny) KEY LIST is
    broadcast as a semi-join prune into the table scan, then the ≤|keys|
    matched rows join back onto the key list. The table itself is never
    broadcast — at 100× the table side is the big side (round-1 verdict
    flagged the previous broadcast direction as a driver-OOM risk).
    """
    from fs2_kafka_streams_spark.operators.table import MaterializedTable

    events = Catalog(spark, sf_dir).events
    table = MaterializedTable(
        events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_id", "ts", "event_type", "value"],
    )
    return table.get_all(MULTIGET_KEYS)


@query(
    "q19_window_ranking_dist",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w1 AS INTEGER) AS rn,
           CAST(rank() OVER w2 AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w2 AS INTEGER) AS drnk,
           CAST(ntile(4) OVER w3 AS INTEGER) AS quartile,
           percent_rank() OVER w3 AS pr,
           cume_dist() OVER w3 AS cd
    FROM orders
    WINDOW w1 AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST),
           w3 AS (PARTITION BY o_custkey
                  ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST)
    """,
    tags=("window",),
)
def q19_window_ranking_dist(spark, sf_dir):
    """Ranking + distribution window functions per customer: ROW_NUMBER /
    RANK / DENSE_RANK by order date, NTILE / PERCENT_RANK / CUME_DIST by
    price. Every window shares ``PARTITION BY o_custkey``, so the orders
    shuffle once; the two orderings only re-sort within partitions. Both
    engines compute pr = (rank-1)/(n-1) and cd = rank_from_end/n as single
    IEEE divisions of exact ints.

    NULL-order contract (r10 hostile-TPCH sweep): Spark's default ASC null
    ordering is NULLS FIRST, DuckDB's is NULLS LAST — every oracle window
    ORDER BY on a nullable column spells NULLS FIRST so a NULL order date
    ranks identically on both engines."""
    o = Catalog(spark, sf_dir).orders
    w1 = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w2 = W.partitionBy("o_custkey").orderBy("o_orderdate")
    w3 = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w1).alias("rn"),
        F.rank().over(w2).alias("rnk"),
        F.dense_rank().over(w2).alias("drnk"),
        F.ntile(4).over(w3).alias("quartile"),
        F.percent_rank().over(w3).alias("pr"),
        F.cume_dist().over(w3).alias("cd"),
    )


@query(
    "q20_window_analytic_value",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           cast(cast(sum({sql_dec2('o_totalprice')}) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             as string) as double)
             AS running_total,
           first_value(o_totalprice) OVER wa AS first_price,
           last_value(o_totalprice) OVER wa AS last_price,
           nth_value(o_totalprice, 2) OVER wa AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST),
           wa AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
)
def q20_window_analytic_value(spark, sf_dir):
    """Analytic + value window functions per customer by order date:
    LAG / LEAD, a running SUM with an explicit rows frame, and FIRST_VALUE
    / LAST_VALUE / NTH_VALUE over an explicit full-partition frame (the
    default frame differs between engines for last_value — the explicit
    frame removes the ambiguity). One partitioning and one ordering: one
    shuffle, one sort. NULLS FIRST in the oracle ORDER BY — q19's
    NULL-order contract."""
    o = Catalog(spark, sf_dir).orders
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    wa = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(dec2("o_totalprice")).over(wf).cast("double").alias("running_total"),
        F.first("o_totalprice").over(wa).alias("first_price"),
        F.last("o_totalprice").over(wa).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wa).alias("second_price"),
    )


@query(
    "q21_window_range_frame",
    oracle=f"""
    WITH daily AS (
      SELECT cast(l_shipdate as date) AS day,
             sum({SQL_REVENUE}) AS rev_dec
      FROM lineitem GROUP BY 1
    )
    SELECT day, cast(cast(rev_dec as string) as double) AS daily_revenue,
           cast(cast(sum(rev_dec) OVER w as string) as double)
             / count(rev_dec) OVER w AS avg7
    FROM daily
    WINDOW w AS (ORDER BY (day - DATE '1970-01-01')
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
)
def q21_window_range_frame(spark, sf_dir):
    """Moving 7-day average of daily revenue via a RANGE frame on the date
    ordinal. The daily pre-aggregation keeps the window input small — at
    100 TB the window runs over O(days), not O(rows)."""
    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(
        F.col("l_shipdate").cast("date").alias("day")
    ).agg(F.sum(revenue_expr()).alias("rev_dec"))
    w = (
        W.orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "day",
        F.col("rev_dec").cast("double").alias("daily_revenue"),
        (
            F.sum("rev_dec").over(w).cast("double")
            / F.count("rev_dec").over(w)
        ).alias("avg7"),
    )


@query(
    "q22_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def q22_topk_per_group(spark, sf_dir):
    """Top-3 orders by price per customer: rank window + filter."""
    o = Catalog(spark, sf_dir).orders
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


_BY_PRICE_SQL = """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
"""


@query(
    "q23_sort_limit_pagination",
    oracle=f"""
    SELECT 'top100' AS page, * FROM ({_BY_PRICE_SQL} LIMIT 100)
    UNION ALL
    SELECT 'page3', * FROM ({_BY_PRICE_SQL} LIMIT 50 OFFSET 100)
    """,
    tags=("sort", "pagination"),
)
def q23_sort_limit_pagination(spark, sf_dir):
    """Global top-100 + keyset-free OFFSET/LIMIT pagination in one entry
    (merge of q23/q23b). Spark plans both as TakeOrderedAndProject: each
    task keeps its local top-k, the driver merges, and offset() pushes
    into the same machinery (top-150 kept, 100 skipped). No global sort
    is materialized; the total order makes both pages deterministic."""
    li = Catalog(spark, sf_dir).lineitem
    by_price = li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    )
    top = by_price.limit(100)
    page = by_price.offset(100).limit(50)
    return top.select(F.lit("top100").alias("page"), "*").unionAll(
        page.select(F.lit("page3").alias("page"), "*")
    )


# --------------------------------------------------------------------------
# Q24: set operations
# --------------------------------------------------------------------------

_SETOP_A = "SELECT c_custkey FROM customer WHERE c_acctbal > 5000"
_SETOP_B = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"

#: (tag, SQL keyword, DataFrame method) per set operation over the same
#: two customer subsets
_SETOPS = [
    ("union_all", "UNION ALL", DataFrame.unionAll),  # bag, no shuffle
    ("union", "UNION", lambda a, b: a.union(b).distinct()),
    ("intersect", "INTERSECT", DataFrame.intersect),
    ("except_all", "EXCEPT ALL", DataFrame.exceptAll),  # multiset
    ("except", "EXCEPT", DataFrame.subtract),  # set difference, dedup
]


def _setop_sides(spark, sf_dir):
    c = Catalog(spark, sf_dir).customer
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a, b


@query(
    "q24_set_ops",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{tag}' AS setop, c_custkey FROM ({_SETOP_A} {kw} {_SETOP_B})"
        for tag, kw, _ in _SETOPS
    ),
    tags=("setop",),
)
def q24_set_ops(spark, sf_dir):
    """All five set operations in one entry (merge of q24/q24b/q24c/q24d/
    q24e): UNION ALL / UNION / INTERSECT / EXCEPT ALL / EXCEPT over the same
    two customer subsets, discriminated by ``setop``."""
    return reduce(
        DataFrame.unionAll,
        [
            op(*_setop_sides(spark, sf_dir)).select(
                F.lit(tag).alias("setop"), "c_custkey"
            )
            for tag, _, op in _SETOPS
        ],
    )


# --------------------------------------------------------------------------
# Q25–Q28: scalar function families
# --------------------------------------------------------------------------


@query(
    "q25_string_hash_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up_name,
           lower(c_mktsegment) AS lo_seg,
           substring(c_name, 10, 9) AS name_digits,
           CAST(length(c_name) AS INTEGER) AS name_len,
           trim(concat_ws('-', c_name, c_mktsegment)) AS joined,
           (c_name LIKE '%001%') AS has_001,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           array_to_string(string_split(c_name, '#'), '|') AS parts,
           levenshtein(c_mktsegment, 'BUILDING') AS lev,
           translate(c_name, '#0', '_O') AS translated,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           reverse(c_mktsegment) AS rev,
           repeat(substr(c_mktsegment, 1, 2), 3) AS rep,
           md5(c_name) AS md5_hex,
           sha256(c_name) AS sha_hex,
           CAST(length(md5(c_name)) AS INTEGER) AS md5_len
    FROM customer
    """,
    tags=("scalar", "hash"),
)
def q25_string_hash_functions(spark, sf_dir):
    """String + hash scalar surface, one row per customer:
    upper/lower/substring/trim/concat_ws/like/regexp_extract/split/length,
    levenshtein/translate/lpad/reverse/repeat (all exact string/integer
    ops, identical cross-engine) and md5/sha256 (byte-identical
    cross-engine — the fingerprint/dedup building blocks).

    ``parts`` is array_join-ed to a string: top-level array columns crash the
    driver's pandas canonicalizer (round-1 q25 failure)."""
    c = Catalog(spark, sf_dir).customer
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up_name"),
        F.lower("c_mktsegment").alias("lo_seg"),
        F.substring("c_name", 10, 9).alias("name_digits"),
        F.length("c_name").alias("name_len"),
        F.trim(F.concat_ws("-", "c_name", "c_mktsegment")).alias("joined"),
        F.col("c_name").like("%001%").alias("has_001"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.array_join(F.split("c_name", "#"), "|").alias("parts"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("lev"),
        F.translate("c_name", "#0", "_O").alias("translated"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.reverse("c_mktsegment").alias("rev"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 3).alias("rep"),
        F.md5("c_name").alias("md5_hex"),
        F.sha2("c_name", 256).alias("sha_hex"),
        F.length(F.md5("c_name")).alias("md5_len"),
    )


@query(
    "q26_date_math_functions",
    oracle=f"""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
           cast(o_orderdate as date) + 30 AS plus30,
           CAST(datediff('day', DATE '1995-01-01', cast(o_orderdate as date))
                AS INTEGER) AS days_since,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           last_day(cast(o_orderdate as date)) AS month_end,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3mo,
           CAST(o_orderdate AS DATE) - 90 AS minus90d,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS woy,
           abs({sql_measure('o_totalprice')} - 100000.0) AS abs_diff,
           CAST(ceil({sql_measure('o_totalprice')}) AS BIGINT) AS ceil_price,
           CAST(floor({sql_measure('o_totalprice')}) AS BIGINT)
             AS floor_price,
           pow(2.0, CAST(o_orderkey % 20 AS DOUBLE)) AS pow2,
           CAST(floor(ln(CASE WHEN {sql_measure('o_totalprice')} > 0
                              THEN o_totalprice END) * 100) AS BIGINT)
             AS ln_centi,
           sqrt(CASE WHEN {sql_measure('o_totalprice')} >= 0
                     THEN o_totalprice END) AS sqrt_price,
           CAST(o_orderkey % 7 AS BIGINT) AS pmod7
    FROM orders
    """,
    tags=("scalar", "date", "math"),
)
def q26_date_math_functions(spark, sf_dir):
    """Date + math scalar surface, one row per order:
    year/month/day/date_add/datediff/date_trunc/last_day; add_months
    (end-of-month clamping matches INTERVAL MONTH), date_sub, quarter,
    dayofweek (Spark is 1=Sunday; DuckDB 0=Sunday — oracle adds 1), ISO
    week; abs/ceil/floor/pow/ln/sqrt/pmod.

    ln is not bit-identical across libm implementations (~1% of values differ
    by 1 ulp), so the hashed contract is floor(ln*100) — stable under ulp
    noise. sqrt and pow-of-two are IEEE-exact.

    Every price use rides the measure domain (NaN/±inf/overflow → NULL):
    ceil/floor/ln land in BIGINT casts that saturate-then-overflow on
    Spark but throw on DuckDB for non-finite input, and ln/sqrt of
    out-of-range arguments are NULL-vs-throw divergent too (r10
    non-finite sweep). The positivity guards are explicit on BOTH
    engines — Spark's log already NULLs non-positive input, DuckDB's
    raises — so the oracle spells the same total function.
    """
    o = Catalog(spark, sf_dir).orders
    od = F.col("o_orderdate").cast("date")
    m = measure("o_totalprice")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_add(od, 30).alias("plus30"),
        F.datediff(od, F.lit("1995-01-01").cast("date")).alias("days_since"),
        # DATE, not NTZ timestamp — same Arrow ns-floor rationale as q14;
        # F.trunc is DATE->DATE, no TZ roundtrip (r10 advisory)
        F.trunc(od, "month").alias("order_month"),
        F.last_day(od).alias("month_end"),
        F.add_months(od, 3).alias("plus3mo"),
        F.date_sub(od, 90).alias("minus90d"),
        F.quarter(od).alias("qtr"),
        F.dayofweek(od).alias("dow"),
        F.weekofyear(od).alias("woy"),
        F.abs(m - 100000.0).alias("abs_diff"),
        F.ceil(m).alias("ceil_price"),
        F.floor(m).alias("floor_price"),
        F.pow(F.lit(2.0), (F.col("o_orderkey") % 20).cast("double")).alias("pow2"),
        F.floor(F.log(F.when(m > 0, m)) * 100).alias("ln_centi"),
        F.sqrt(F.when(m >= 0, m)).alias("sqrt_price"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).cast("long").alias("pmod7"),
    )


_Q28_JSON = """to_json(struct_pack(o_orderkey := o_orderkey,
                               o_orderstatus := o_orderstatus))"""


@query(
    "q28_conditional_json",
    oracle=f"""
    WITH t AS (
      SELECT *,
             nullif(o_orderstatus, 'P') AS maybe_status,
             nullif(o_orderpriority, '3-MEDIUM') AS maybe_prio
      FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 150000 THEN 'big'
                WHEN o_totalprice > 50000 THEN 'mid'
                ELSE 'small' END AS bucket,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
           (o_orderstatus = 'F') AS is_filled,
           CAST(maybe_status IS NOT DISTINCT FROM 'F' AS BOOLEAN) AS eqns_f,
           CAST(maybe_status IS DISTINCT FROM maybe_status AS BOOLEAN)
             AS self_distinct,
           coalesce(maybe_status, 'unknown') AS status_filled,
           CASE WHEN maybe_prio IS NULL THEN 'was-medium'
                ELSE 'has-prio' END AS prio_class,
           CAST(count(maybe_status) OVER () AS BIGINT) AS n_nonnull,
           CAST(count(*) OVER () AS BIGINT) AS n_all,
           TRY_CAST(o_orderpriority AS INTEGER) AS prio_int,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
           TRY_CAST(o_orderdate AS DATE) AS as_date,
           {_Q28_JSON}::VARCHAR AS j,
           CAST(json_extract_string({_Q28_JSON}, '$.o_orderkey') AS BIGINT)
             AS jk,
           json_extract_string({_Q28_JSON}, '$.o_orderstatus') AS js
    FROM t
    """,
    tags=("scalar", "null", "json"),
)
def q28_conditional_json(spark, sf_dir):
    """Conditional / null / cast / json surface, one row per order:
    CASE WHEN / coalesce / nullif / boolean projection; null semantics
    end-to-end (nullif to create NULLs, null-safe equality <=> ≙ IS NOT
    DISTINCT FROM, coalesce, NULL-aware CASE, and the count(col)-skips-NULLs
    vs count(*) distinction); try_cast (failed casts yield NULL instead of
    errors — the ANSI-safe ingestion path: '1-URGENT' is not an int, its
    first char is); to_json / get_json_object / from_json round-trip — the
    decode path (A3, ``client/RecordStream.scala:277-278``) in JSON form.

    ``ignoreNullFields=false``: Spark's default to_json OMITS null struct
    fields while DuckDB renders ``"s":null`` — with the option both engines
    emit byte-identical JSON for NULL-bearing rows (r10 hostile-TPCH
    sweep)."""
    o = Catalog(spark, sf_dir).orders
    t = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        "o_orderdate",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("maybe_status"),
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("maybe_prio"),
    )
    # Global counts as a 1-row aggregate broadcast-cross-joined back in,
    # instead of count() OVER () — an unpartitioned window moves every row
    # to a single task, which is a non-starter at 100 TB; the partial-agg
    # + broadcast shape keeps the scan fully parallel.
    totals = t.agg(
        F.count("maybe_status").alias("n_nonnull"),
        F.count(F.lit(1)).alias("n_all"),
    )
    j = F.to_json(
        F.struct("o_orderkey", "o_orderstatus"),
        {"ignoreNullFields": "false"},
    )
    # spread: this one projection (JSON round-trip, try_casts) is the
    # entry's whole CPU cost, and a single-row-group scan would run it in
    # ONE task. (r12 refused a spread of the json columns alone while they
    # were one of several concurrently running per-variant scans.)
    return spread(t).crossJoin(F.broadcast(totals)).select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 150000, "big")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        (F.col("o_orderstatus") == "F").alias("is_filled"),
        F.col("maybe_status").eqNullSafe(F.lit("F")).alias("eqns_f"),
        (~F.col("maybe_status").eqNullSafe(F.col("maybe_status"))).alias(
            "self_distinct"
        ),
        F.coalesce("maybe_status", F.lit("unknown")).alias("status_filled"),
        F.when(F.col("maybe_prio").isNull(), "was-medium")
        .otherwise("has-prio")
        .alias("prio_class"),
        "n_nonnull",
        "n_all",
        F.col("o_orderpriority").try_cast("int").alias("prio_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias(
            "prio_digit"
        ),
        F.col("o_orderdate").try_cast("date").alias("as_date"),
        j.alias("j"),
        F.get_json_object(j, "$.o_orderkey").cast("bigint").alias("jk"),
        F.from_json(
            j, "o_orderkey bigint, o_orderstatus string"
        )["o_orderstatus"].alias("js"),
    )


# --------------------------------------------------------------------------
# Q29–Q32: array functions and the dead-letter split
# --------------------------------------------------------------------------


_Q29_SQL = """
    WITH per_order AS (
      SELECT l_orderkey,
             coalesce(list(l_linenumber)
                      FILTER (WHERE l_linenumber IS NOT NULL), []) AS lns_raw
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           array_to_string(list_sort(lns_raw), '|') AS lns,
           CAST(len(lns_raw) AS INTEGER) AS n_lines,
           list_contains(lns_raw, 3) AS has_line3
    FROM per_order
    """


@query(
    "q29_array_functions",
    oracle=_Q29_SQL,
    tags=("array", "local"),
)
def q29_array_functions(spark, sf_dir):
    """collect_list + sort_array/size/array_contains (arrays canonicalized
    by sorting — collect order is partition-dependent; the array is then
    array_join-ed to a string because top-level array columns crash the
    driver's pandas canonicalizer, the round-1 q29 failure).

    NULL-element contract (r10 hostile-TPCH sweep): Spark's collect_list
    SKIPS NULL inputs while DuckDB's list() keeps them — the oracle
    replays the skip with FILTER, coalescing an all-NULL group to []
    (collect_list of zero rows is an empty array, never NULL)."""
    li = Catalog(spark, sf_dir).lineitem
    # One collect_list buffer per group, not three — size/contains are
    # derived from the single collected array in a post-agg projection.
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_linenumber")).alias("_lns"))
        .select(
            "l_orderkey",
            F.array_join(
                F.transform(F.col("_lns"), lambda x: x.cast("string")), "|"
            ).alias("lns"),
            F.size("_lns").alias("n_lines"),
            F.array_contains("_lns", 3).alias("has_line3"),
        )
    )


_Q29C_SQL = """
    WITH per_order AS (
      SELECT l_orderkey,
             coalesce(list(l_quantity
                           ORDER BY l_linenumber NULLS FIRST, l_quantity)
                      FILTER (WHERE abs(l_quantity) < 1e14), []) AS qtys
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           coalesce(array_to_string(list_transform(qtys,
             x -> CAST(CAST(trunc(x * 2) AS BIGINT) AS VARCHAR)), '|'), '')
             AS doubled,
           coalesce(array_to_string(
             list_transform(list_filter(qtys, x -> x > 25),
               x -> CAST(CAST(trunc(x) AS BIGINT) AS VARCHAR)), '|'), '') AS big,
           CAST(len(list_filter(qtys, x -> x > 45)) > 0 AS BOOLEAN)
             AS any_huge,
           CAST(len(list_filter(qtys, x -> x > 0)) = len(qtys) AS BOOLEAN)
             AS all_positive,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), qtys),
                       (acc, x) -> acc + x) AS total
    FROM per_order
    """


@query(
    "q29c_array_hof",
    oracle=_Q29C_SQL,
    tags=("array", "hof", "local"),
)
def q29c_array_hof(spark, sf_dir):
    """Array higher-order functions — transform / filter / exists / forall /
    aggregate over per-order quantity lists (ordered by (line number,
    quantity) — the synthetic data has duplicate line numbers, so the
    tie-break makes the arrays deterministic; quantities are integer-valued
    doubles so the fold is exact). Array outputs are array_join-ed to
    strings: top-level array columns crash the driver's canonicalizer.
    The oracle's int casts go through trunc(): Spark's double->int cast
    TRUNCATES while DuckDB's ROUNDS — invisible on integer-valued
    fixtures, divergent on fractional hostile quantities (r11 fuzz,
    seed 9: 123456.789).

    NULL contract (r10 hostile-TPCH sweep): NULL quantities never enter
    qtys (the ``when`` guard makes collect_list skip them — a NULL element
    would also poison exists/forall with three-valued logic DuckDB's
    list_filter can't mirror); a NULL line number rides as an ordering key
    only, sorted NULLS FIRST by Spark's struct comparator and spelled
    explicitly in the oracle's ORDER BY."""
    li = _cat(spark, sf_dir).lineitem
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                # measure-domain element guard: out-of-domain quantities
                # (NaN/±inf/overflow) never enter the array — the BIGINT
                # casts inside the HOFs throw on DuckDB and
                # saturate/throw on ANSI Spark for non-finite elements
                # (r10 non-finite sweep); abs(x) < bound is also false
                # for NULL, subsuming the original isNotNull guard
                F.when(
                    measure("l_quantity").isNotNull(),
                    F.struct("l_linenumber", "l_quantity"),
                )
            )
        ).alias("_pairs")
    ).select(
        "l_orderkey",
        F.transform("_pairs", lambda p: p["l_quantity"]).alias("qtys"),
    )
    return per_order.select(
        "l_orderkey",
        F.array_join(
            F.transform(
                "qtys", lambda x: (x * 2).cast("bigint").cast("string")
            ),
            "|",
        ).alias("doubled"),
        F.array_join(
            F.transform(
                F.filter("qtys", lambda x: x > 25),
                lambda x: x.cast("bigint").cast("string"),
            ),
            "|",
        ).alias("big"),
        F.exists("qtys", lambda x: x > 45).alias("any_huge"),
        F.forall("qtys", lambda x: x > 0).alias("all_positive"),
        F.aggregate(
            "qtys", F.lit(0.0), lambda acc, x: acc + x
        ).alias("total"),
    )


_Q29D_SQL = """
    SELECT l_orderkey,
           string_agg(CAST(l_linenumber AS VARCHAR), ','
                      ORDER BY l_linenumber, l_quantity) AS lines,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_orderkey
    """


@query(
    "q29d_string_agg",
    oracle=_Q29D_SQL,
    tags=("array", "agg", "local"),
)
def q29d_string_agg(spark, sf_dir):
    """Ordered string aggregation (listagg shape): collect, sort by
    (linenumber, quantity) for determinism under duplicate line numbers,
    join with a delimiter."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("l_linenumber", "l_quantity"))
                ),
                lambda p: p["l_linenumber"].cast("string"),
            ),
            ",",
        ).alias("lines"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q29_array_hof_agg",
    oracle=f"""
    SELECT * FROM ({_Q29_SQL.strip()}) a
    JOIN ({_Q29C_SQL.strip()}) b USING (l_orderkey)
    JOIN ({_Q29D_SQL.strip()}) c USING (l_orderkey)
    """,
    tags=("array", "hof", "agg"),
)
def q29_array_hof_agg(spark, sf_dir):
    """Array surface (merge of q29/q29c/q29d): collect_list + sort_array/
    size/array_contains, transform/filter/exists/forall/aggregate, ordered
    string_agg — one row per order (arrays rendered as joined strings; raw
    array columns crash the driver canonicalizer).

    FUSED single-aggregation build (r11 optimization, guide §2.4): the
    three variants are all ``groupBy(l_orderkey)`` aggregations of the
    same lineitem scan, so the USING join of their outputs is exactly one
    grouped aggregation carrying all three variants' buffers — one scan +
    one shuffle instead of three of each plus two joins. Equivalence with
    the join-merge oracle is total for EVERY corpus: grouped outputs are
    unique per key, and the inner join's drop of the NULL-key group is
    replayed by the pre-aggregation ``isNotNull`` filter (pinned on the
    NULL-bearing corpus in tests/test_review_r10_fixes.py). Every
    aggregate/post-projection expression is verbatim from the variants
    (q29's NULL-skip contract, q29c's measure-domain element guard and
    trunc() casts, q29d's (linenumber, quantity) sort tie-break).

    ``spread`` (guide §2.5) parallelizes the partial collect buffers —
    a single-row-group scan would otherwise build all four buffers in ONE
    task; at 100 TB the scan has enough splits and spread is a no-op. The
    shuffle ships only the three pruned input columns, and every output
    array is explicitly sorted, so collect order cannot leak through."""
    li = spread(
        Catalog(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(F.col("l_orderkey").isNotNull())
    )
    agg = li.groupBy("l_orderkey").agg(
        # q29: one collected+sorted linenumber array buffer
        F.sort_array(F.collect_list("l_linenumber")).alias("_lns"),
        # q29c: (linenumber, quantity) pairs, measure-domain guarded
        F.array_sort(
            F.collect_list(
                F.when(
                    measure("l_quantity").isNotNull(),
                    F.struct("l_linenumber", "l_quantity"),
                )
            )
        ).alias("_pairs"),
        # q29d: ordered string_agg + group count
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("l_linenumber", "l_quantity"))
                ),
                lambda p: p["l_linenumber"].cast("string"),
            ),
            ",",
        ).alias("lines"),
        F.count(F.lit(1)).alias("n"),
    )
    # separate projection so the quantity array materializes once (the
    # same CollapseProject-keeps-non-cheap-aliases discipline as q43b)
    qtys = agg.withColumn(
        "_qtys", F.transform("_pairs", lambda p: p["l_quantity"])
    )
    return qtys.select(
        "l_orderkey",
        F.array_join(
            F.transform("_lns", lambda x: x.cast("string")), "|"
        ).alias("lns"),
        F.size("_lns").alias("n_lines"),
        F.array_contains("_lns", 3).alias("has_line3"),
        F.array_join(
            F.transform(
                "_qtys", lambda x: (x * 2).cast("bigint").cast("string")
            ),
            "|",
        ).alias("doubled"),
        F.array_join(
            F.transform(
                F.filter("_qtys", lambda x: x > 25),
                lambda x: x.cast("bigint").cast("string"),
            ),
            "|",
        ).alias("big"),
        F.exists("_qtys", lambda x: x > 45).alias("any_huge"),
        F.forall("_qtys", lambda x: x > 0).alias("all_positive"),
        F.aggregate(
            "_qtys", F.lit(0.0), lambda acc, x: acc + x
        ).alias("total"),
        "lines",
        "n",
    )


@query(
    "q29b_explode_lateral",
    oracle="""
    SELECT 'explode' AS src, l_orderkey AS key,
           CAST(l_linenumber AS VARCHAR) AS val
    FROM lineitem WHERE l_linenumber IS NOT NULL
    UNION ALL
    SELECT 'lateral', o_orderkey, tag
    FROM (SELECT o_orderkey, unnest([o_orderstatus, o_orderpriority]) AS tag
          FROM orders)
    """,
    tags=("array", "udtf", "sql"),
)
def q29b_explode_lateral(spark, sf_dir):
    """UDTF-shaped row generators (merge of q29b/q49c): explode(collect_list)
    round-trips to the original rows, and LATERAL VIEW explode runs through
    the SQL front-end (the UDTF join shape; the oracle is DuckDB's unnest).

    NULL elements never enter the array (collect_list skips them, q29's
    contract), so the round-trip is over the non-NULL rows on both
    engines; a group whose every element is NULL collects to an empty
    array, which explode drops entirely — exactly the rows the oracle's
    WHERE excludes."""
    c = Catalog(spark, sf_dir)
    # NO spread here (r12 measured refusal): unlike q29/q50, the
    # collect_list partial agg is cheap enough that the added round-robin
    # exchange LOSES — interleaved A/B mins 1.40 s (plain) vs 1.85 s
    # (spread) over 6 rounds; see OPTIMIZATION_r12.md "left alone"
    arrs = c.lineitem.select("l_orderkey", "l_linenumber").groupBy(
        "l_orderkey"
    ).agg(F.collect_list("l_linenumber").alias("lns"))
    ex = arrs.select(
        "l_orderkey", F.explode("lns").alias("l_linenumber")
    ).select(
        F.lit("explode").alias("src"),
        F.col("l_orderkey").alias("key"),
        F.col("l_linenumber").cast("string").alias("val"),
    )
    c.register_views()
    lat = spark.sql(
        """
        SELECT o_orderkey, tag
        FROM orders
        LATERAL VIEW explode(array(o_orderstatus, o_orderpriority)) t AS tag
        """
    ).select(
        F.lit("lateral").alias("src"),
        F.col("o_orderkey").alias("key"),
        F.col("tag").alias("val"),
    )
    return ex.unionAll(lat)


_Q32_SQL = f"""
    WITH payloads AS (
      SELECT event_type,
             CASE WHEN event_id % 20 = 0 THEN 'x' || props ELSE props END
               AS payload
      FROM events
    )
    SELECT event_type,
           CAST(count(*) FILTER (WHERE {sql_json_strict('payload')}) AS BIGINT)
             AS n_good,
           CAST(count(*) FILTER (WHERE NOT {sql_json_strict('payload')}) AS BIGINT)
             AS n_bad,
           -- TRY_CAST (r11 cold review): a VALID-JSON payload whose $.k
           -- is non-numeric ('{{"k": "abc"}}') is a good record with a
           -- NULL metric, not a crash — the plain CAST threw
           -- ConversionException here and CAST_INVALID_INPUT on the
           -- Spark half (ANSI), the exact jagged boundary the decode
           -- family exists to absorb
           CAST(sum(CASE WHEN {sql_json_strict('payload')}
                         THEN TRY_CAST(json_extract_string(payload, '$.k')
                                       AS INTEGER)
                    END) AS BIGINT) AS sum_k
    FROM payloads GROUP BY event_type
    """


@query(
    "q32_dead_letter_split",
    oracle=_Q32_SQL,
    tags=("dlq", "local"),
)
def q32_dead_letter_split(spark, sf_dir):
    """Dead-letter split (A5/``Result[A]``): decode errors stay in-band and
    are counted, never dropped silently (reference ``model/package.scala:16``,
    ``streams/Tables.scala:24-27``).

    A deterministic 5% of payloads are mangled (leading garbage — Spark's
    parser tolerates *trailing* garbage that DuckDB rejects) to exercise the
    corrupt path. Good/bad is decided by JSON *validity*
    (``try_parse_json`` ≡ DuckDB ``json_valid``), not by presence of the
    ``$.k`` field — valid JSON without ``k`` is a good record with a NULL
    metric, and a NULL payload (like SQL's NULL ``json_valid``) counts in
    neither bucket.
    """
    e = Catalog(spark, sf_dir).events
    payload = F.when(
        F.col("event_id") % 20 == 0, F.concat(F.lit("x"), F.col("props"))
    ).otherwise(F.col("props"))
    valid = F.try_parse_json(payload).isNotNull()
    # try_cast mirrors the oracle's TRY_CAST: valid JSON with a
    # non-numeric $.k is a good record with a NULL metric (r11 cold
    # review — the plain cast threw under ANSI)
    k = F.when(valid, F.get_json_object(payload, "$.k").try_cast("int"))
    return (
        e.select(
            "event_type",
            valid.alias("ok"),
            payload.isNotNull().alias("present"),
            k.alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ok"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_good"),
            F.sum(
                F.when(F.col("present") & ~F.col("ok"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_bad"),
            F.sum("k").alias("sum_k"),
        )
    )


_Q30B_SQL = """
    SELECT event_type, CAST(count(*) * 2 AS BIGINT) AS doubled
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type HAVING count(*) * 2 > 100
    """


@query(
    "q30b_map_hof",
    oracle=_Q30B_SQL,
    tags=("map", "hof", "local"),
)
def q30b_map_hof(spark, sf_dir):
    """Map higher-order functions: build a status→count map, double the
    values (transform_values), drop small entries (map_filter), explode
    back to rows. The oracle computes the same result relationally — the
    HOFs are the Spark surface under test.

    A NULL status cannot ride the map: Spark maps reject NULL keys by
    definition ([NULL_MAP_KEY] at runtime, found by the r10 NULL-key
    sweep) — the exclusion is explicit here and replayed in the oracle."""
    e = Catalog(spark, sf_dir).events.filter(F.col("event_type").isNotNull())
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    as_map = counts.agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    transformed = as_map.select(
        F.map_filter(
            F.transform_values("m", lambda k, v: v * 2),
            lambda k, v: v > 100,
        ).alias("m")
    )
    return transformed.select(
        F.explode(F.map_entries("m")).alias("e")
    ).select(
        F.col("e.key").alias("event_type"),
        F.col("e.value").alias("doubled"),
    )


@query(
    "q32_dlq_map_hof",
    oracle=f"""
    SELECT * FROM ({_Q32_SQL.strip()}) a
    LEFT JOIN ({_Q30B_SQL.strip()}) b USING (event_type)
    """,
    tags=("dlq", "map", "hof"),
)
def q32_dlq_map_hof(spark, sf_dir):
    """Dead-letter split + map higher-order functions (merge of q32/q30b),
    both keyed by event_type. The map_filter drops small types, so the
    left join surfaces them as NULL doubled — the HOF semantics survive
    the merge."""
    return q32_dead_letter_split(spark, sf_dir).join(
        q30b_map_hof(spark, sf_dir), ["event_type"], "left"
    )


# --------------------------------------------------------------------------
# Extended SQL surface: SQL front-end, unpivot
# --------------------------------------------------------------------------


_Q49_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
AND NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
"""


#: The ``big_orders`` CTE body, shared by the oracle string and the Spark
#: build's one-time materialization (one fragment — no drift possible).
_Q49B_BIG_SQL = f"""SELECT o_custkey, {sql_dsum('o_totalprice')} AS total_spend
  FROM orders GROUP BY o_custkey"""

#: Main query with the big_orders relation name templated: the oracle
#: inlines the CTE; the Spark build points both references (join side AND
#: the scalar avg subquery) at the materialized temp view.
_Q49B_MAIN_SQL = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_big_spenders
FROM customer c JOIN {big} b ON c.c_custkey = b.o_custkey
WHERE b.total_spend > (SELECT avg(total_spend) FROM {big})
GROUP BY c.c_mktsegment
"""

_Q49B_SQL = (
    "\nWITH big_orders AS (\n  "
    + _Q49B_BIG_SQL
    + "\n)"
    + _Q49B_MAIN_SQL.format(big="big_orders")
)


@query(
    "q49_subqueries",
    oracle=f"""
    SELECT 'exists' AS tag, c_name AS k, CAST(c_custkey AS BIGINT) AS n
    FROM ({_Q49_SQL})
    UNION ALL
    SELECT 'cte_scalar', c_mktsegment, n_big_spenders
    FROM ({_Q49B_SQL})
    """,
    tags=("sql", "subquery"),
)
def q49_subqueries(spark, sf_dir):
    """SQL front-end subquery surface (merge of q49/q49b), both arms run
    through ``spark.sql`` verbatim:

    - correlated EXISTS / NOT EXISTS: Catalyst decorrelates both into
      semi/anti joins (the same physical plan as q05's semi/anti arms);
    - a CTE with an uncorrelated scalar subquery: the scalar aggregate
      becomes a one-row broadcast. The spend sums are exact decimals, so
      the avg threshold compare is deterministic cross-engine.

    The CTE is referenced twice (join side + the scalar avg subquery) and
    Spark inlines CTEs, so the r11 plan ran the orders aggregation TWICE
    (plan nodes 16-20 and 30-34 in ``plans/r11/q49_subqueries_before.txt``).
    r12 materializes ``big_orders`` once (guide §2.4) and points both
    references at the O(customers)-row proxy table; the per-key spend sums
    are deterministic exact decimals, so computing them once vs twice
    cannot change any value (oracle unchanged, hash-checked)."""
    Catalog(spark, sf_dir).register_views()
    exists = spark.sql(_Q49_SQL).select(
        F.lit("exists").alias("tag"),
        F.col("c_name").alias("k"),
        F.col("c_custkey").cast("long").alias("n"),
    )
    big = spark.sql(_Q49B_BIG_SQL)
    _materialize(big).createOrReplaceTempView("q49b_big_orders_mat")
    cte = spark.sql(_Q49B_MAIN_SQL.format(big="q49b_big_orders_mat")).select(
        F.lit("cte_scalar").alias("tag"),
        F.col("c_mktsegment").alias("k"),
        F.col("n_big_spenders").alias("n"),
    )
    return exists.unionAll(cte)


@query(
    "q16d_unpivot",
    oracle="""
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey,
             CAST(c_acctbal AS DOUBLE) AS acctbal,
             CAST(c_nationkey AS DOUBLE) AS nationkey
      FROM customer
    ) UNPIVOT (val FOR metric IN (acctbal, nationkey))
    """,
    tags=("reshape",),
)
def q16d_unpivot(spark, sf_dir):
    """Unpivot (wide→long melt) — the inverse of Q16c's pivot. SQL UNPIVOT
    (DuckDB) EXCLUDES NULL cells; Spark's DataFrame.unpivot is a melt that
    KEEPS them (measured on a NULL-bearing corpus, r10 hostile-TPCH
    sweep) — the explicit filter pins the SQL-standard exclusion on both
    engines. The unpivoted columns are pre-cast to a common type as
    unpivot requires."""
    c = Catalog(spark, sf_dir).customer
    return (
        c.select(
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("c_nationkey").cast("double").alias("nationkey"),
        )
        .unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")
        .where(F.col("val").isNotNull())
    )


@query(
    "q27b_bitwise",
    oracle="""
    SELECT o_orderstatus,
           CAST(bit_and(o_orderkey) AS BIGINT) AS all_and,
           CAST(bit_or(o_orderkey) AS BIGINT) AS all_or,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS all_xor,
           CAST(sum(o_orderkey & 255) AS BIGINT) AS sum_low_byte,
           CAST(sum(o_orderkey >> 4) AS BIGINT) AS sum_shifted
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("scalar", "agg"),
)
def q27b_bitwise(spark, sf_dir):
    """Bitwise scalar ops + bitwise aggregates — exact integer semantics."""
    o = Catalog(spark, sf_dir).orders
    k = F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.bit_and(k).alias("all_and"),
        F.bit_or(k).alias("all_or"),
        F.bit_xor(k).alias("all_xor"),
        F.sum(k.bitwiseAND(F.lit(255))).alias("sum_low_byte"),
        F.sum(F.shiftright(k, 4)).alias("sum_shifted"),
    )


@query(
    "q07b_tpch_q5_shape",
    oracle=f"""
    SELECT n_name, {sql_dsum_expr(SQL_REVENUE)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
    tags=("join", "agg", "tpch"),
)
def q07b_tpch_q5_shape(spark, sf_dir):
    """TPC-H Q5 shape: six-way join (two fact-fact shuffles + broadcast
    dims) with the local-supplier condition (customer and supplier in the
    same nation) and a region filter that prunes before the joins."""
    c = _cat(spark, sf_dir)
    return (
        c.customer.join(c.orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(c.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            c.supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(c.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(c.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("n_name")
        .agg(dsum_expr(revenue_expr()).alias("revenue"))
    )
