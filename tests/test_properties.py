"""Property-based tests (hypothesis) for the core operator algebra —
the PySpark analogue of the reference's GeneratorDrivenPropertyChecks
(``src/it/scala/UnitSpec.scala:6-7``, ``RecordStreamSpec.scala:93-128``:
random data in, invariant out).

Each property runs ONE Spark job over a whole generated batch (many cases
per example, small example count) so the suite stays fast.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMOKE  # noqa: F401  (fixture wiring)

SET = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,  # deterministic examples: this suite is a round gate
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# a changelog: (key, offset, value) with offsets unique per key
changelogs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=99),  # offset (deduped below)
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=1,
    max_size=40,
).map(
    lambda rows: list(
        {(k, o): (k, o, v) for k, o, v in rows}.values()
    )  # unique (key, offset): Kafka offsets never tie per partition
)


def _python_fold(rows):
    """Last-write-wins fold — the reference's Map[K, V] table semantics."""
    head = {}
    for k, o, v in sorted(rows, key=lambda r: r[1]):
        head[k] = (o, v)
    return {(k, o, v) for k, (o, v) in head.items()}


@SET
@given(rows=changelogs)
def test_latest_by_key_equals_python_fold(spark, rows):
    from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key

    df = spark.createDataFrame(rows, "k long, off long, v long")
    got = {
        (r["k"], r["off"], r["v"])
        for r in latest_by_key(
            df, ["k"], ["off"], ["off", "v"]
        ).collect()
    }
    assert got == _python_fold(rows)


@SET
@given(rows=changelogs, cut=st.integers(min_value=0, max_value=39))
def test_latest_by_key_chunked_fold_duality(spark, rows, cut):
    """Folding a changelog in two arbitrary chunks, then folding the two
    heads, equals folding it all at once — the batching-insensitivity that
    makes the streaming q38 equal the batch q17 at ANY trigger size."""
    from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key

    cut = min(cut, len(rows) - 1) if len(rows) > 1 else 0
    schema = "k long, off long, v long"
    fold = lambda df: latest_by_key(df, ["k"], ["off"], ["off", "v"])
    whole = fold(spark.createDataFrame(rows, schema))
    if cut == 0:
        # degenerate split: assert refold idempotence (parts = whole would
        # compare a frame with itself — a tautology wasting the example)
        parts = fold(whole)
    else:
        h1 = fold(spark.createDataFrame(rows[:cut], schema))
        h2 = fold(spark.createDataFrame(rows[cut:], schema))
        parts = fold(h1.unionByName(h2))
    assert sorted(map(tuple, parts.collect())) == sorted(
        map(tuple, whole.collect())
    )


@SET
@given(rows=changelogs, at=st.integers(min_value=-1, max_value=100))
def test_scd2_asof_equals_python_replay(spark, rows, at):
    """as_of(history, t) must equal replaying the changelog up to t in
    plain Python (deletes applied), for every t."""
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.operators.scd import as_of, changelog_history

    # mark every value < -50 as a tombstone write
    df = spark.createDataFrame(
        [(k, o, v, v < -50) for k, o, v in rows],
        "k long, off long, v long, dead boolean",
    )
    h = changelog_history(df, ["k"], "off", ["v"], tombstone_col="dead")
    got = {(r["k"], r["v"]) for r in as_of(h, F.lit(at)).collect()}

    live = {}
    for k, o, v in sorted(rows, key=lambda r: r[1]):
        if o <= at:
            if v < -50:
                live.pop(k, None)
            else:
                live[k] = v
    assert got == {(k, v) for k, v in live.items()}


@SET
@given(rows=changelogs, bids=st.lists(st.integers(0, 2), min_size=40, max_size=40))
def test_apply_changes_overlapping_batches_equal_full_fold(spark, rows, bids):
    """Chained ``apply_changes(keep_tombstones=True)`` over an ARBITRARY
    3-way split of the changelog — batches overlap in offset ranges and
    arrive in any interleaving — must equal the global last-write-wins
    fold, tombstone markers included: an older record in a later batch
    can neither regress a value nor resurrect a deleted key."""
    from fs2_kafka_streams_spark.operators.incremental import apply_changes

    batches: list[list] = [[], [], []]
    for i, r in enumerate(rows):
        batches[bids[i % len(bids)]].append(r)
    schema = "k long, off long, v long, dead boolean"
    snap = None
    for b in batches:
        if not b:
            continue
        df = spark.createDataFrame(
            [(k, o, v, v < -50) for k, o, v in b], schema
        )
        snap = apply_changes(
            snap, df, ["k"], "off", ["v"], "dead", keep_tombstones=True
        )

    head = {}
    for k, o, v in sorted(rows, key=lambda r: r[1]):
        head[k] = (o, v, v < -50)
    want = {(k, v, o, dead) for k, (o, v, dead) in head.items()}
    got = {(r.k, r.v, r.off, r.dead) for r in snap.collect()}
    assert got == want


@SET
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "fox", "dog", "run", "sky"]),
            min_size=3,
            max_size=12,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_matches_bruteforce(spark, docs):
    """Pairwise 3-gram Jaccard from the DataFrame operator == brute-force
    Python over the same shingle sets, for random small corpora."""
    from fs2_kafka_streams_spark.operators.dedup import ngram_jaccard_pairs

    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.0
        ).collect()
    }

    def sh(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i]), sh(docs[j])
            inter = len(a & b)
            if inter:
                want[(i, j)] = inter / len(a | b)
    assert set(got) == set(want)
    for pair, jc in want.items():
        assert abs(got[pair] - jc) < 1e-9


@SET
@given(
    payloads=st.lists(
        st.one_of(
            st.binary(max_size=30),
            st.tuples(
                st.integers(min_value=-10**6, max_value=10**6),
                st.text(
                    alphabet=st.characters(codec="ascii", categories=["L", "N"]),
                    max_size=8,
                ),
            ).map(lambda t: f'{{"a": {t[0]}, "b": "{t[1]}"}}'.encode()),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_decode_totality(spark, payloads):
    """The Result[A] contract: EVERY input record lands in exactly one of
    clean_view / dead_letters — arbitrary junk bytes never crash the
    pipeline and never vanish (the reference drops Lefts explicitly;
    this engine keeps them in-band)."""
    import json

    from fs2_kafka_streams_spark.sources.decode import (
        DecodeRegistry,
        JsonFormat,
        clean_view,
        dead_letters,
    )

    records = spark.createDataFrame(
        [("t", 0, i, p) for i, p in enumerate(payloads)],
        "topic string, partition int, offset long, value binary",
    )
    reg = DecodeRegistry().register("t", JsonFormat("a long, b string"))
    decoded = reg.decode(records)
    clean = clean_view(decoded).collect()
    dead = dead_letters(decoded).collect()
    assert len(clean) + len(dead) == len(payloads)

    def is_clean(p: bytes) -> bool:
        try:
            d = json.loads(p.decode())
            return isinstance(d, dict)
        except Exception:
            return False

    want_clean = sum(1 for p in payloads if is_clean(p))
    assert len(clean) == want_clean


def test_parse_byte_size_spark_conf_shapes():
    """_spread's Connect fallback must understand Spark's byte-size conf
    syntax (bare bytes + case-insensitive k/m/g[b] suffixes) — a parse
    failure on "128MB" would silently force the repartition the splits
    guard exists to avoid."""
    import pytest as _pytest

    from fs2_kafka_streams_spark.operators.dedup import _parse_byte_size

    assert _parse_byte_size("134217728") == 134217728
    assert _parse_byte_size(134217728) == 134217728
    assert _parse_byte_size("128MB") == 128 << 20
    assert _parse_byte_size("128m") == 128 << 20
    assert _parse_byte_size("1g") == 1 << 30
    assert _parse_byte_size("64kb") == 64 << 10
    assert _parse_byte_size(" 512 b ") == 512
    with _pytest.raises(ValueError):
        _parse_byte_size("lots")


def test_duration_us_shapes():
    """One duration parser for every streaming gap/retention/delay knob
    (four hand-rolled copies had drifted before consolidation): plural and
    singular units, case-insensitive, loud on anything unparseable."""
    import pytest as _pytest

    from fs2_kafka_streams_spark.streaming.conf import duration_us

    assert duration_us("2 hours") == 2 * 3600 * 1_000_000
    assert duration_us("1 hour") == 3600 * 1_000_000
    assert duration_us("10 minutes") == 600 * 1_000_000
    assert duration_us("1 minute") == 60 * 1_000_000
    assert duration_us("30 seconds") == 30 * 1_000_000
    assert duration_us("1 Second") == 1_000_000
    for bad in (
        "2h", "2 fortnights", "hours 2", "2  ", "",
        "2 hourss",     # exactly one plural suffix, not rstrip-any
        "-5 minutes",   # a negative gap/retention is always a caller bug
        "1.5 hours",    # whole units only (Spark intervals likewise)
    ):
        with _pytest.raises(ValueError):
            duration_us(bad)


@SET
@given(rows=changelogs, width=st.sampled_from([1, 3, 7, 50]))
def test_bucketed_history_equals_default_any_width(spark, rows, width):
    """r8 salt-window-stitch: changelog_history(order_bucket=w) ≡ the
    default plan for ANY changelog and bucket width — every interval
    boundary either sits inside a slice (lead sees it) or crosses slices
    (the stitch supplies it); width must be semantics-free."""
    from fs2_kafka_streams_spark.operators.scd import changelog_history

    df = spark.createDataFrame(rows, "k long, off long, v long")
    base = changelog_history(df, ["k"], "off", ["v"])
    got = changelog_history(df, ["k"], "off", ["v"], order_bucket=width)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, base.collect())
    )


#: as-of inputs: left probes (key, t) and right rows (key, t, payload) on a
#: small shared domain so matches, misses, ties and carry-ins all occur
_asof_inputs = st.tuples(
    st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 60)
        ),
        min_size=1, max_size=25,
    ),
    st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 60), st.integers(-9, 9)
        ),
        min_size=0, max_size=25,
    ),
)


@SET
@given(inputs=_asof_inputs, width=st.sampled_from([1, 4, 13, 100]))
def test_bucketed_asof_equals_default_any_width(spark, inputs, width):
    """r8 bucketed as-of: time_bucket=w ≡ the default plan for ANY input
    (duplicate right times exercise the tie rule through the carry-in
    path; sparse rights exercise multi-bucket carry)."""
    from fs2_kafka_streams_spark.operators.asof_join import asof_join

    lrows, rrows = inputs
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "pid long, k long, t long",
    )
    right = spark.createDataFrame(rrows, "k long, rt long, v long")
    kwargs = dict(
        left_time="t", right_time="rt", left_by=["k"], right_by=["k"],
        right_values=["rt", "v"],
    )
    base = asof_join(left, right, **kwargs)
    got = asof_join(left, right, time_bucket=width, **kwargs)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, base.collect())
    )


# ---- r10: cross-engine domain predicates (measure / well-formed vector) ---

_specials = st.sampled_from([
    float("nan"), float("inf"), float("-inf"), 0.0, -0.0,
    1e308, -1e308, 5e-324, 1e14, -1e14, 1e14 - 1.0, 99.5, -100.0,
    100.0, 100.5, 1e38,
])
_doubles = st.one_of(_specials, st.floats(allow_nan=True, allow_infinity=True))


@SET
@given(vals=st.lists(st.one_of(st.none(), _doubles), min_size=1, max_size=12))
def test_measure_predicate_cross_engine(spark, vals):
    """canonical.measure ≡ sql_measure row-for-row on ANY double, special
    values included — the whole money/metric guard rests on both engines
    evaluating abs(x) < 1e14 identically (false for NaN/±inf/NULL)."""
    import duckdb

    from fs2_kafka_streams_spark.canonical import measure, sql_measure

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = {
        r["i"]: r["m"]
        for r in df.select("i", measure("x").alias("m")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, v) for i, v in enumerate(vals)])
    want = {
        i: m
        for i, m in con.sql(
            f"SELECT i, {sql_measure('x')} AS m FROM t"
        ).fetchall()
    }
    assert got == want


@SET
@given(
    vecs=st.lists(
        st.one_of(
            st.none(),
            st.lists(st.one_of(st.none(), _doubles), min_size=0, max_size=6),
        ),
        min_size=1,
        max_size=8,
    ),
    dim=st.sampled_from([3, 4]),
)
def test_well_formed_vectors_cross_engine(spark, vecs, dim):
    """well_formed_vectors ≡ sql_well_formed_vectors on ANY array of
    doubles (NULL vectors, NULL elements, specials, any length) — the
    similarity family's input contract must classify identically on both
    engines."""
    import duckdb

    from fs2_kafka_streams_spark.operators.similarity import (
        sql_well_formed_vectors,
        well_formed_vectors,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, e array<double>"
    )
    got = {
        r["i"]
        for r in df.filter(well_formed_vectors("e", dim)).select("i").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, e DOUBLE[])")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(i, v) for i, v in enumerate(vecs)]
    )
    want = {
        r[0]
        for r in con.sql(
            f"SELECT i FROM t WHERE {sql_well_formed_vectors('e', dim)}"
        ).fetchall()
    }
    assert got == want


# ---- r10: as-of join vs DuckDB's native ASOF JOIN on random corpora --------

_keys = st.one_of(st.none(), st.integers(0, 3))
_times = st.one_of(st.none(), st.integers(0, 20))


@SET
@given(
    left=st.lists(st.tuples(_keys, _times), min_size=1, max_size=25),
    right=st.lists(
        st.tuples(_keys, _times, st.integers(0, 5)), min_size=0, max_size=25
    ),
)
def test_asof_join_equals_duckdb_asof(spark, left, right):
    """asof_join ≡ DuckDB's native ASOF LEFT JOIN on arbitrary (key, time)
    multisets — ties at equal times, duplicate rows, NULL keys and times
    on both sides. The right side is pre-deduped to max-payload per
    (key, time) so both engines' tie rules coincide (our documented rule:
    greatest payload struct). The documented NULL contract applies: a
    NULL-time or NULL-key probe stays unmatched (DuckDB's raw ASOF would
    hand a NULL probe the latest right row — r10 NULL-ts axis), and
    NULL-time/NULL-key right rows never match."""
    import duckdb

    from fs2_kafka_streams_spark.operators.asof_join import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "i long, k long, t long"
    )
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t, v) in right], "k long, t long, v long"
    )
    got = {
        (r["i"], r["v"])
        for r in asof_join(
            ldf, rdf, "t", "t", ["k"], ["k"], right_values=["v"]
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE l (i BIGINT, k BIGINT, t BIGINT)")
    con.execute("CREATE TABLE r (k BIGINT, t BIGINT, v BIGINT)")
    if left:
        con.executemany(
            "INSERT INTO l VALUES (?, ?, ?)",
            [(i, k, t) for i, (k, t) in enumerate(left)],
        )
    if right:
        con.executemany("INSERT INTO r VALUES (?, ?, ?)", list(right))
    want = {
        (i, v)
        for i, v in con.sql(
            """
            WITH r2 AS (
              SELECT k, t, max(v) AS v FROM r
              WHERE k IS NOT NULL AND t IS NOT NULL GROUP BY k, t
            ), l2 AS (
              SELECT * FROM l WHERE k IS NOT NULL AND t IS NOT NULL
            ), m AS (
              SELECT l2.i, r2.v
              FROM l2 ASOF LEFT JOIN r2
                ON l2.k = r2.k AND l2.t >= r2.t
            )
            SELECT l.i, m.v FROM l LEFT JOIN m USING (i)
            """
        ).fetchall()
    }
    assert got == want
