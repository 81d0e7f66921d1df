"""Consolidated driver-facing queries (round-2 registry compaction).

The round-1 driver recorded correctness rows for only the FIRST 50 registry
entries, leaving every streaming/UDF/LLM query unverified. This module merges
variant queries of the same operator family into single multi-operator
entries so the whole surface fits inside the driver's 50-entry window:

- *keyed merges* (q29, q13b, q32): variants whose arms are distinct
  queries over one key, built in one builder (q29 and q13b as one fused
  aggregation) and checked against the variants' own oracles joined on
  the key;
- *union merges*: variants with union-compatible shapes are stacked with a
  discriminator ``tag`` column.

Entries whose variants were projections or window passes over one scan
(q07, q16c, q19, q20, q25, q26, q28, q43b) are single queries in
:mod:`.relational` and :mod:`.llm`. The merged variants stay registered
(the local pytest gate still checks each one individually); only the
curated :data:`fs2_kafka_streams_spark.queries.DRIVER_ORDER` is exported to
the driver via ``__spark_entry__``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fs2_kafka_streams_spark.operators.util import materialize as _materialize
from fs2_kafka_streams_spark.canonical import (
    SQL_REVENUE,
    dec2,
    measure,
    revenue_expr,
)
from fs2_kafka_streams_spark.catalog import Catalog
from fs2_kafka_streams_spark.queries import (  # noqa: F401 — the variant
    REGISTRY,  # modules must be imported BEFORE the module-level oracle
    query,  # f-strings below look their specs up in REGISTRY; without
)  # these imports, importing merged directly raises KeyError
from fs2_kafka_streams_spark.queries import (  # noqa: F401
    analytics,
    llm,
    relational,
    sketches,
    stateful,
    streaming_ext,
    timeseries,
    windows,
)


def _spec(name: str):
    return REGISTRY[name]


# --------------------------------------------------------------------------
# Keyed merges — distinct variant queries over one key
# --------------------------------------------------------------------------


@query(
    "q29_array_hof_agg",
    oracle=f"""
    SELECT * FROM ({_spec('q29_array_functions').oracle.strip()}) a
    JOIN ({_spec('q29c_array_hof').oracle.strip()}) b USING (l_orderkey)
    JOIN ({_spec('q29d_string_agg').oracle.strip()}) c USING (l_orderkey)
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

    ``_spread`` (guide §2.5) parallelizes the partial collect buffers —
    a single-row-group scan would otherwise build all four buffers in ONE
    task; at 100 TB the scan has enough splits and spread is a no-op. The
    shuffle ships only the three pruned input columns, and every output
    array is explicitly sorted, so collect order cannot leak through."""
    from fs2_kafka_streams_spark.operators.util import spread as _spread

    li = _spread(
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
    "q13b_stats_percentiles",
    oracle=f"""
    SELECT * FROM ({_spec('q13b_percentiles').oracle.strip()}) a
    JOIN ({_spec('q13c_stats_aggregates').oracle.strip()}) b USING (l_returnflag)
    JOIN ({_spec('q15b_approx_percentile').oracle.strip()}) c USING (l_returnflag)
    CROSS JOIN (SELECT n_exact AS acd_exact, within_tol AS acd_within_tol
                FROM ({_spec('q15_approx_count_distinct').oracle.strip()})) d
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
    li = Catalog(spark, sf_dir).lineitem.filter(
        F.col("l_returnflag").isNotNull()
    )
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
    d = (
        _spec("q15_approx_count_distinct")
        .build(spark, sf_dir)
        .select(
            F.col("n_exact").alias("acd_exact"),
            F.col("within_tol").alias("acd_within_tol"),
        )
    )
    return abc.crossJoin(F.broadcast(d))


@query(
    "q32_dlq_map_hof",
    oracle=f"""
    SELECT * FROM ({_spec('q32_dead_letter_split').oracle.strip()}) a
    LEFT JOIN ({_spec('q30b_map_hof').oracle.strip()}) b USING (event_type)
    """,
    tags=("dlq", "map", "hof"),
)
def q32_dlq_map_hof(spark, sf_dir):
    """Dead-letter split + map higher-order functions (merge of q32/q30b),
    both keyed by event_type. The map_filter drops small types, so the
    left join surfaces them as NULL doubled — the HOF semantics survive
    the merge."""
    a = _spec("q32_dead_letter_split").build(spark, sf_dir)
    b = _spec("q30b_map_hof").build(spark, sf_dir)
    return a.join(b, ["event_type"], "left")


# --------------------------------------------------------------------------
# Union merges — union-compatible variants stacked with a tag column
# --------------------------------------------------------------------------


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
    li = Catalog(spark, sf_dir).lineitem
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
    ``join_type``."""
    c = Catalog(spark, sf_dir)
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
    "q16_rollup_cube",
    oracle=f"""
    SELECT 'rollup' AS tag, k1, k2, agg_sum, agg_n FROM (
      SELECT r_name AS k1, n_name AS k2, sum_bal AS agg_sum, n_cust AS agg_n
      FROM ({_spec('q16_rollup').oracle.strip()})
    )
    UNION ALL
    SELECT 'cube', o_orderstatus, o_orderpriority, sum_price, n_orders
    FROM ({_spec('q16b_cube').oracle.strip()})
    """,
    tags=("agg", "groupingsets"),
)
def q16_rollup_cube(spark, sf_dir):
    """ROLLUP + CUBE grouping sets in one entry (merge of q16/q16b), with
    generic (k1, k2, agg_sum, agg_n) columns and a discriminator tag."""
    rollup = _spec("q16_rollup").build(spark, sf_dir).select(
        F.lit("rollup").alias("tag"),
        F.col("r_name").alias("k1"),
        F.col("n_name").alias("k2"),
        F.col("sum_bal").alias("agg_sum"),
        F.col("n_cust").alias("agg_n"),
    )
    cube = _spec("q16b_cube").build(spark, sf_dir).select(
        F.lit("cube").alias("tag"),
        F.col("o_orderstatus").alias("k1"),
        F.col("o_orderpriority").alias("k2"),
        F.col("sum_price").alias("agg_sum"),
        F.col("n_orders").alias("agg_n"),
    )
    return rollup.unionAll(cube)


@query(
    "q23_sort_limit_pagination",
    oracle=f"""
    SELECT 'top100' AS page, * FROM ({_spec('q23_sort_limit').oracle.strip()})
    UNION ALL
    SELECT 'page3', * FROM ({_spec('q23b_pagination').oracle.strip()})
    """,
    tags=("sort", "pagination"),
)
def q23_sort_limit_pagination(spark, sf_dir):
    """Global top-k (TakeOrderedAndProject — no full sort) + OFFSET/LIMIT
    pagination in one entry (merge of q23/q23b)."""
    top = _spec("q23_sort_limit").build(spark, sf_dir)
    page = _spec("q23b_pagination").build(spark, sf_dir)
    return top.select(F.lit("top100").alias("page"), "*").unionAll(
        page.select(F.lit("page3").alias("page"), "*")
    )


_SETOP_MERGE = [
    ("union_all", "q24_union_all"),
    ("union", "q24b_union_distinct"),
    ("intersect", "q24c_intersect"),
    ("except_all", "q24d_except_all"),
    ("except", "q24e_except_distinct"),
]


@query(
    "q24_set_ops",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{tag}' AS setop, c_custkey FROM ({_spec(src).oracle.strip()})"
        for tag, src in _SETOP_MERGE
    ),
    tags=("setop",),
)
def q24_set_ops(spark, sf_dir):
    """All five set operations in one entry (merge of q24/q24b/q24c/q24d/
    q24e): UNION ALL / UNION / INTERSECT / EXCEPT ALL / EXCEPT over the same
    two customer subsets, discriminated by ``setop``."""
    out = None
    for tag, src in _SETOP_MERGE:
        arm = _spec(src).build(spark, sf_dir).select(
            F.lit(tag).alias("setop"), "c_custkey"
        )
        out = arm if out is None else out.unionAll(arm)
    return out


@query(
    "q29b_explode_lateral",
    oracle=f"""
    SELECT 'explode' AS src, l_orderkey AS key,
           CAST(l_linenumber AS VARCHAR) AS val
    FROM ({_spec('q29b_explode_roundtrip').oracle.strip()})
    UNION ALL
    SELECT 'lateral', o_orderkey, tag
    FROM ({_spec('q49c_lateral_view').oracle.strip()})
    """,
    tags=("array", "udtf", "sql"),
)
def q29b_explode_lateral(spark, sf_dir):
    """UDTF-shaped row generators (merge of q29b/q49c): explode(collect_list)
    round-trip + LATERAL VIEW explode through the SQL front-end."""
    ex = _spec("q29b_explode_roundtrip").build(spark, sf_dir).select(
        F.lit("explode").alias("src"),
        F.col("l_orderkey").alias("key"),
        F.col("l_linenumber").cast("string").alias("val"),
    )
    lat = _spec("q49c_lateral_view").build(spark, sf_dir).select(
        F.lit("lateral").alias("src"),
        F.col("o_orderkey").alias("key"),
        F.col("tag").alias("val"),
    )
    return ex.unionAll(lat)


@query(
    "q49_subqueries",
    oracle=f"""
    SELECT 'exists' AS tag, c_name AS k, CAST(c_custkey AS BIGINT) AS n
    FROM ({_spec('q49_exists_subquery').oracle.strip()})
    UNION ALL
    SELECT 'cte_scalar', c_mktsegment, n_big_spenders
    FROM ({_spec('q49b_cte_scalar_subquery').oracle.strip()})
    """,
    tags=("sql", "subquery"),
)
def q49_subqueries(spark, sf_dir):
    """SQL front-end subquery surface (merge of q49/q49b): correlated
    EXISTS/NOT EXISTS (decorrelated to semi/anti joins) + CTE with an
    uncorrelated scalar subquery."""
    a = _spec("q49_exists_subquery").build(spark, sf_dir).select(
        F.lit("exists").alias("tag"),
        F.col("c_name").alias("k"),
        F.col("c_custkey").cast("long").alias("n"),
    )
    b = _spec("q49b_cte_scalar_subquery").build(spark, sf_dir).select(
        F.lit("cte_scalar").alias("tag"),
        F.col("c_mktsegment").alias("k"),
        F.col("n_big_spenders").alias("n"),
    )
    return a.unionAll(b)


@query(
    "q33_time_windows",
    oracle=f"""
    SELECT 'tumbling' AS kind, window_start, window_end,
           CAST(user_id AS VARCHAR) AS key, n, sum_value
    FROM ({_spec('q33_tumbling_window').oracle.strip()})
    UNION ALL
    SELECT 'sliding', window_start, window_end, event_type, n,
           CAST(NULL AS DOUBLE)
    FROM ({_spec('q34_sliding_window').oracle.strip()})
    UNION ALL
    SELECT 'session', session_start, session_end,
           CAST(user_id AS VARCHAR), n_events, CAST(NULL AS DOUBLE)
    FROM ({_spec('q35_session_window').oracle.strip()})
    """,
    tags=("window", "streaming-shape"),
)
def q33_time_windows(spark, sf_dir):
    """Tumbling + sliding + session time windows in one entry (merge of
    q33/q34/q35), batch-replayed with the same `F.window` /
    `F.session_window` expressions Structured Streaming uses for its
    windowed state (stream-batch duality)."""
    tumb = _spec("q33_tumbling_window").build(spark, sf_dir).select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        "window_end",
        F.col("user_id").cast("string").alias("key"),
        "n",
        "sum_value",
    )
    slide = _spec("q34_sliding_window").build(spark, sf_dir).select(
        F.lit("sliding").alias("kind"),
        "window_start",
        "window_end",
        F.col("event_type").alias("key"),
        "n",
        F.lit(None).cast("double").alias("sum_value"),
    )
    sess = _spec("q35_session_window").build(spark, sf_dir).select(
        F.lit("session").alias("kind"),
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        F.col("user_id").cast("string").alias("key"),
        F.col("n_events").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    return tumb.unionAll(slide).unionAll(sess)


@query(
    "q33b_windows_streaming",
    oracle=f"""
    SELECT 'tumbling' AS kind, window_start, window_end, user_id, n, sum_value
    FROM ({_spec('q33b_tumbling_window_streaming').oracle.strip()})
    UNION ALL
    SELECT 'session', session_start, session_end, user_id, n_events,
           CAST(NULL AS DOUBLE)
    FROM ({_spec('q35b_session_window_streaming').oracle.strip()})
    """,
    tags=("streaming", "window", "session"),
)
def q33b_windows_streaming(spark, sf_dir):
    """REAL streaming windowed aggregations in one entry (merge of
    q33b/q35b): tumbling-window and session-window state accumulated across
    micro-batches (complete mode), each equal to its batch twin — the
    stream-batch duality check for window state."""
    tumb = _spec("q33b_tumbling_window_streaming").build(spark, sf_dir).select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        "window_end",
        "user_id",
        "n",
        "sum_value",
    )
    sess = _spec("q35b_session_window_streaming").build(spark, sf_dir).select(
        F.lit("session").alias("kind"),
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        "user_id",
        F.col("n_events").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    return tumb.unionAll(sess)


@query(
    "q41_dedup_decontaminate",
    oracle=f"""
    SELECT 'exact_dedup' AS tag, content_hash AS k, keep_id AS v1, n_dups AS v2
    FROM ({_spec('q41_exact_dedup').oracle.strip()})
    UNION ALL
    SELECT 'decontaminate', CAST(doc_id AS VARCHAR), n_hits,
           CAST(contaminated AS BIGINT)
    FROM ({_spec('q41b_decontaminate').oracle.strip()})
    """,
    tags=("llm", "dedup", "decontamination"),
)
def q41_dedup_decontaminate(spark, sf_dir):
    """Exact dedup + benchmark decontamination in one entry (merge of
    q41/q41b): sha256-groupBy content dedup (hash, representative id, dup
    count) and the broadcast shingle-set contamination report (per-doc
    benchmark-overlap hit count), discriminated by ``tag`` over generic
    (k, v1, v2) columns."""
    dd = _spec("q41_exact_dedup").build(spark, sf_dir).select(
        F.lit("exact_dedup").alias("tag"),
        F.col("content_hash").alias("k"),
        F.col("keep_id").alias("v1"),
        F.col("n_dups").alias("v2"),
    )
    dc = _spec("q41b_decontaminate").build(spark, sf_dir).select(
        F.lit("decontaminate").alias("tag"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("n_hits").alias("v1"),
        F.col("contaminated").cast("long").alias("v2"),
    )
    return dd.unionAll(dc)


def _q42b_oracle() -> str:
    from fs2_kafka_streams_spark.queries.llm import (
        _SHINGLE_SQL,
        _cc_ctes,
        _minhash_ctes,
        _simhash_ctes,
    )

    # clusters are computed over the MINHASH pairs (the tier that exists at
    # 100 TB — the exact-jaccard pair set is the sf-small oracle tier only),
    # so the pair table is built once and reused by both outputs
    return f"""
    WITH RECURSIVE {_SHINGLE_SQL}, {_minhash_ctes()}, {_simhash_ctes()},
    {_cc_ctes("mh_pairs")}
    SELECT 'minhash' AS method, id_a, id_b, jaccard AS score FROM mh_pairs
    UNION ALL
    SELECT 'simhash', id_a, id_b, CAST(hamming AS DOUBLE) FROM sh_pairs
    UNION ALL
    SELECT 'clusters', id, component, CAST(NULL AS DOUBLE) FROM comp
    """


@query(
    "q42b_minhash_simhash",
    oracle=_q42b_oracle(),
    tags=("llm", "dedup", "scale"),
)
def q42b_minhash_simhash(spark, sf_dir):
    """Approximate near-dup scale tiers + cluster endgame in one entry
    (merge of q42b/q42c/q42d): MinHash(64)+LSH(16 bands) pairs with exact
    Jaccard verification, SimHash-64 banded-hamming candidate pairs — both
    O(n·bands) bucketed shuffles, never O(n²) — and the connected-components
    dedup clustering (pointer-jumping label propagation) over the
    MINHASH-tier pairs (the tier that exists at corpus scale; the exact
    Jaccard tier is the oracle-scale ground truth only — see the inline
    comment at the cluster step). The portable md5 hash family makes the
    WHOLE pipeline DuckDB-
    replayable (signatures, bands, candidates, verification, and the CC
    fixed point as a recursive CTE), so this entry is hash-checked, not
    rows-only; recall vs the exact q42 tier and cluster labels vs a
    union-find oracle are additionally asserted in the test suite."""
    # the minhash pair table feeds BOTH the pairs output and the cluster
    # endgame: localCheckpoint (materialize once + TRUNCATE the logical
    # plan) so the LSH pipeline (shingles → signatures → bands → verify)
    # runs once and the iterative CC rounds don't re-plan its deep tree
    # every round (persist() reuses execution but not plan compilation —
    # measured 2.5× slower here). Clustering the scale-tier pairs (not the
    # exact-jaccard tier) is also the semantics a 100 TB deployment has —
    # the O(n²) exact pair set only exists at oracle scale. On a real
    # cluster use reliable .checkpoint() for fault tolerance.
    mh_pairs = (
        _spec("q42b_minhash_lsh")
        .build(spark, sf_dir)
        .transform(_materialize)
    )
    mh = mh_pairs.select(
        F.lit("minhash").alias("method"),
        "id_a",
        "id_b",
        F.col("jaccard").alias("score"),
    )
    sh = _spec("q42c_simhash").build(spark, sf_dir).select(
        F.lit("simhash").alias("method"),
        "id_a",
        "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    from fs2_kafka_streams_spark.operators.clusters import (
        connected_components,
    )

    cc = connected_components(mh_pairs.select("id_a", "id_b")).select(
        F.lit("clusters").alias("method"),
        F.col("id").alias("id_a"),
        F.col("component").alias("id_b"),
        F.lit(None).cast("double").alias("score"),
    )
    return mh.unionAll(sh).unionAll(cc)


def _q44b_oracle() -> str:
    from fs2_kafka_streams_spark.queries.llm import (
        _ann_lsh_ctes,
        _hyperplane_ctes,
        _neardup_lsh_ctes,
    )

    return f"""
    WITH {_hyperplane_ctes()}, {_neardup_lsh_ctes()}, {_ann_lsh_ctes()}
    SELECT 'ann' AS method, query_id AS id_a, neighbor_id AS id_b,
           rank, cos
    FROM ann_top
    UNION ALL
    SELECT 'neardup', id_a, id_b, CAST(NULL AS INTEGER), cos FROM ndp
    """


@query(
    "q44b_lsh_ann_neardup",
    oracle=_q44b_oracle(),
    tags=("llm", "similarity", "scale"),
)
def q44b_lsh_ann_neardup(spark, sf_dir):
    """Embedding LSH scale tiers in one entry (merge of q44b/q44d):
    hyperplane-LSH approximate top-k neighbors and banded-LSH near-dup
    pairs with exact cosine verification. Hash-checked end-to-end — the
    oracle recomputes the seeded hyperplane sign-bits, bands, candidate
    joins, and quantized cosines in DuckDB. The IVF tier (learned k-means
    quantizer — iterative, not SQL-expressible) is the separate appended
    entry q44e_ivf_ann, hash-checked since round 4 via exact-top-1 +
    property columns; its nprobe=nlist ≡ brute-force identity is
    asserted in the test suite."""
    ann = _spec("q44b_lsh_ann").build(spark, sf_dir).select(
        F.lit("ann").alias("method"),
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "rank",
        "cos",
    )
    nd = _spec("q44d_embedding_neardup_lsh").build(spark, sf_dir).select(
        F.lit("neardup").alias("method"),
        "id_a",
        "id_b",
        F.lit(None).cast("int").alias("rank"),
        "cos",
    )
    return ann.unionAll(nd)
