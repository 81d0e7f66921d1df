"""Pins for the round-10 verdict/advisory findings (VERDICT.md Next #5 +
ADVICE.md, r10).

Same contract as test_review_r8/r9/r10_fixes.py: every fix must be
observable behavior, not a comment.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pandas as pd
import pytest

from fs2_kafka_streams_spark.queries import load_all
from fs2_kafka_streams_spark.testing import UNION_ARMS, arm_spec, driver_gate


def _write_parquet(path, frame):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(frame), path)
    return str(path)


# ---------------------------------------------------------------------------
# r10 verdict Next #5 — replay_dir sentinel totality on all-NULL ts columns
# ---------------------------------------------------------------------------

_TS = [dt.datetime(2024, 1, 1, 12, 0, k) for k in range(4)]


def test_replay_sentinel_null_secondary_ts_column(tmp_path):
    """`pc.max` of an all-NULL timestamp column is None; the sentinel row
    used to compute None + timedelta (TypeError) with rows > 0. A NULL
    secondary ts column must get a NULL sentinel value while the real ts
    column still advances past max(ts)."""
    import pyarrow.parquet as pq

    from fs2_kafka_streams_spark.streaming.replay import replay_dir

    frame = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3],
            "ts": pd.Series(_TS, dtype="datetime64[us]"),
            "ts2": pd.Series([pd.NaT] * 4, dtype="datetime64[us]"),
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    _write_parquet(tmp_path / "t.parquet", frame)
    d = replay_dir(
        str(tmp_path),
        "t",
        n_files=2,
        sentinel_minutes=30,
        cache_root=str(tmp_path / "cache"),
    )
    last = sorted(Path(d).glob("part-*.parquet"))[-1]
    row = pq.read_table(last).to_pylist()[0]
    assert row["event_id"] == -1
    assert row["ts"] == _TS[-1] + dt.timedelta(minutes=30)
    assert row["ts2"] is None


def test_replay_sentinel_all_null_order_col_raises(tmp_path):
    """If THE order column is all-NULL the sentinel cannot advance the
    watermark that flushes outer/timeout state — silent NULL would hang
    the consumer's pending state forever; must raise loudly."""
    from fs2_kafka_streams_spark.streaming.replay import replay_dir

    frame = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3],
            "ts": pd.Series([pd.NaT] * 4, dtype="datetime64[us]"),
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    _write_parquet(tmp_path / "t.parquet", frame)
    with pytest.raises(ValueError, match="order column"):
        replay_dir(
            str(tmp_path),
            "t",
            n_files=2,
            order_col="ts",
            sentinel_minutes=30,
            cache_root=str(tmp_path / "cache"),
        )


def test_replay_sentinel_no_advanceable_ts_raises(tmp_path):
    """sentinel_minutes with EVERY timestamp column all-NULL is an
    unsatisfiable request (no watermark can advance) — loud, not a
    silently inert extra trigger."""
    from fs2_kafka_streams_spark.streaming.replay import replay_dir

    frame = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3],
            "ts": pd.Series([pd.NaT] * 4, dtype="datetime64[us]"),
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    _write_parquet(tmp_path / "t.parquet", frame)
    with pytest.raises(ValueError, match="no timestamp column"):
        replay_dir(
            str(tmp_path),
            "t",
            n_files=2,
            sentinel_minutes=30,
            cache_root=str(tmp_path / "cache"),
        )


# ---------------------------------------------------------------------------
# r10 advisory — shared EMB_DIM constant (llm.py + streaming_ext.py)
# ---------------------------------------------------------------------------


def test_emb_dim_single_source_of_truth():
    """The embedding dim is declared ONCE (operators/similarity.EMB_DIM);
    a drifted hardcoded copy in the streaming ANN path would silently
    filter every vector into an empty corpus instead of failing loudly."""
    import inspect

    from fs2_kafka_streams_spark.operators.similarity import EMB_DIM
    from fs2_kafka_streams_spark.queries import llm, streaming_ext

    assert llm._EMB_DIM is EMB_DIM
    src = inspect.getsource(streaming_ext)
    assert "EMB_DIM" in src
    assert 'well_formed_vectors("embedding", 64)' not in src


# ---------------------------------------------------------------------------
# r10 advisory — table_profile hostile-double rendering (measure domain)
# ---------------------------------------------------------------------------


def test_table_profile_hostile_doubles_render_null(spark):
    """The exported operator used a raw cast(decimal(18,2)) for double
    min/max — the exact engine-divergent / ANSI-throwing cast the
    measure-domain policy eliminated everywhere else. Direct use on
    hostile doubles (finite overflow 1e300, NaN, ±inf) must render NULL,
    not crash."""
    from fs2_kafka_streams_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 2, 3, 4],
                "x": [1.25, float("nan"), float("inf"), 1e300],
            }
        )
    )
    rows = {r["column"]: r for r in table_profile(df).collect()}
    x = rows["x"]
    assert x["n_rows"] == 4
    # NaN/inf/1e300 are outside the measure domain: max renders NULL
    # ("no usable measurement") instead of throwing CAST_OVERFLOW
    assert x["max_value"] is None
    # the in-domain extremum still renders exactly
    assert x["min_value"] == "1.25"


def test_table_profile_in_domain_unchanged(spark):
    """Identity on in-contract ≤2-dp doubles: the guard must not change
    the rendering q50 hashes against the oracle."""
    from fs2_kafka_streams_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        pd.DataFrame({"x": [1.25, -3.5, 100.0]})
    )
    row = table_profile(df).collect()[0]
    assert row["min_value"] == "-3.50"
    assert row["max_value"] == "100.00"


# ---------------------------------------------------------------------------
# r10 advisory — q15b sketch reference point is bounded-memory again
# ---------------------------------------------------------------------------


def test_q15b_accuracy_is_bounded():
    """approx_percentile at int32-max accuracy is effectively an exact
    aggregate whose buffer grows with the group — contradicting the
    entry's own one-pass-mergeable rationale. The reference point must
    use a documented large-but-bounded accuracy."""
    import inspect

    from fs2_kafka_streams_spark.queries import relational

    src = inspect.getsource(relational)
    assert "2147483647" not in src


def test_q15b_tiny_group_still_within_tol(spark, tmp_path):
    """The r10 tiny-corpus property the int32-max accuracy existed for —
    a 2-row group's discrete reference point is a group member, so the
    5% claim holds — must survive the bounded accuracy (exact for groups
    ≤ 1M rows). Checked on q13b's sketch columns, whose builder also
    reads prices, discounts and the orders table."""
    from fs2_kafka_streams_spark.queries import load_all

    li = pd.DataFrame(
        {
            "l_orderkey": [1, 2, 3, 4],
            "l_returnflag": ["A", "A", "B", "B"],
            "l_quantity": [1.0, 100.0, 7.0, 7.0],
            "l_extendedprice": [10.0, 20.0, 30.0, 40.0],
            "l_discount": [0.01, 0.02, 0.03, 0.04],
        }
    )
    _write_parquet(tmp_path / "lineitem.parquet", li)
    _write_parquet(
        tmp_path / "orders.parquet",
        pd.DataFrame({"o_orderkey": [1, 2], "o_custkey": [7, 8]}),
    )
    spec = load_all()["q13b_stats_percentiles"]
    got = {
        r["l_returnflag"]: r["within_tol"]
        for r in spec.build(spark, str(tmp_path)).collect()
    }
    assert got == {"A": True, "B": True}


# ---------------------------------------------------------------------------
# r10 verdict Next #1 (flagging half) — run-gated uniform-IO-elevation flag
# ---------------------------------------------------------------------------


def test_noise_flags_uniform_io_elevation_self_flags():
    """The r10 driver run measured q48 +30% at io_med 0.647 ms/op with NO
    flag: under a uniformly elevated run the median rises with the load,
    so no bracket ever clears 1.6×median. With quiet_band_top set, an
    entry whose BOTH brackets sit above the absolute quiet band must
    self-flag when the run median is itself above the band."""
    import bench

    names = [f"q{i}" for i in range(5)]
    # the r10 shape: every tick moderately elevated (median 0.65 > 0.60
    # band top), no single spike — the old rule flags nothing
    elevated = [0.65, 0.66, 0.64, 0.67, 0.63, 0.65]
    noisy_old, _ = bench.noise_flags(names, elevated, abs_floor=0.25)
    assert noisy_old == {}, "sanity: the relative rule is blind to this"
    noisy_new, mid = bench.noise_flags(
        names, elevated, abs_floor=0.25,
        quiet_band_top=bench.IO_QUIET_BAND_MS[1],
    )
    assert sorted(noisy_new) == names
    assert noisy_new["q0"] == [0.65, 0.66]  # bracket values ride along


def test_noise_flags_quiet_run_gate_stays_closed():
    """Quiet-run discrimination (the r8 min-tick lesson): at a median
    inside the band, an entry with both brackets above the band top must
    NOT flag — local bursts at a quiet median are fsync jitter, and
    flagging them would mass-flag quiet runs (3/83 such entries in the
    r10 quiet artifact)."""
    import bench

    names = [f"q{i}" for i in range(4)]
    quiet = [0.45, 0.46, 0.65, 0.63, 0.44]  # median 0.46: gate closed
    noisy, _ = bench.noise_flags(
        names, quiet, abs_floor=0.25,
        quiet_band_top=bench.IO_QUIET_BAND_MS[1],
    )
    assert noisy == {}


def test_bench_summary_carries_io_loaded():
    """The run-level io_loaded flag (IO twin of host_loaded) must ride
    the driver-visible summary, so a cross-round reader can attribute a
    stream-family swing to host IO without the local artifact."""
    import bench

    src = open(bench.__file__).read()
    assert '"io_loaded": io_loaded,' in src
    assert "io_median > IO_QUIET_BAND_MS[1]" in src


# ---------------------------------------------------------------------------
# r11 cold-review campaign (VERDICT Next #7) — findings in the never-
# reviewed files, each pinned on the corpus shape that exposed it
# ---------------------------------------------------------------------------

import os as _os
import shutil as _shutil

_SRC = "/root/testdata/sf0.001"


def _oracle_match(spark, sf_dir, name):
    spec = arm_spec(name) if name in UNION_ARMS else load_all()[name]
    assert driver_gate(spark, sf_dir, spec)


@pytest.fixture(scope="session")
def bigcents_sf_dir(tmp_path_factory):
    """The overflow-intersection corpus: in-measure-domain extreme cents
    (|value| just under the 1e14 bound) at calendar-extreme gaps (1950 →
    2260, ~9.8e9 s) on ONE user — cent-second products ~9.7e25, past
    BIGINT on both engines."""
    d = tmp_path_factory.mktemp("sfbigcents")
    for f in _os.listdir(_SRC):
        if f.endswith(".parquet") and f != "events.parquet":
            _shutil.copy(_os.path.join(_SRC, f), d / f)
    e = pd.read_parquet(_os.path.join(_SRC, "events.parquet"))
    extra = pd.DataFrame([
        dict(event_id=10**6 + 1, ts=pd.Timestamp("1950-01-01T00:00:00"),
             user_id=999999, event_type="view", value=9.9e13, props="{}"),
        dict(event_id=10**6 + 2, ts=pd.Timestamp("2260-01-01T00:00:00"),
             user_id=999999, event_type="view", value=-9.9e13, props="{}"),
    ])
    e2 = pd.concat([e, extra], ignore_index=True)
    e2["ts"] = e2["ts"].astype("datetime64[us]")
    e2.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", ["q63_time_weighted_avg", "q62_anomaly"])
def test_twa_cent_seconds_wide_arithmetic(spark, bigcents_sf_dir, name):
    """q63's cent-second products ran in BIGINT: an in-domain extreme
    value times a multi-year gap overflows int64 and BOTH engines threw
    (ANSI ARITHMETIC_OVERFLOW / DuckDB OutOfRange) — the r10
    extreme-numerics and far-date axes each passed alone; their
    INTERSECTION crashed. Now decimal(38,0)/HUGEINT on the two halves;
    q62 (already wide) rides as the control."""
    _oracle_match(spark, bigcents_sf_dir, name)


@pytest.fixture(scope="session")
def badprops_sf_dir(tmp_path_factory):
    """Source-corrupt props: truncated JSON, non-JSON, empty string, bare
    number, and VALID-JSON-non-numeric $.k on every 7th event."""
    d = tmp_path_factory.mktemp("sfbadprops")
    for f in _os.listdir(_SRC):
        if f.endswith(".parquet") and f != "events.parquet":
            _shutil.copy(_os.path.join(_SRC, f), d / f)
    e = pd.read_parquet(_os.path.join(_SRC, "events.parquet"))
    bad = ['{"k": 1, ', "not json", "", "42", '{"k": "abc"}']
    n_bad = (len(e) + 6) // 7
    e.loc[e.index % 7 == 0, "props"] = [bad[i % len(bad)] for i in range(n_bad)]
    e["ts"] = e["ts"].astype("datetime64[us]")
    e.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize(
    "name", ["q65_variant_json", "q32_dlq_map_hof"]
)
def test_json_decode_total_on_source_corrupt_props(
    spark, badprops_sf_dir, name
):
    """The decode family must be TOTAL on source-corrupt payloads:
    q65's oracle called json_extract unguarded (DuckDB throws where
    Spark's try_parse_json NULLs) and both q32 halves CAST a valid-JSON
    non-numeric $.k (ANSI CAST_INVALID_INPUT vs ConversionException —
    crashes on both engines). Now json_valid-guarded + TRY_CAST on the
    oracle halves, try_cast on the Spark half."""
    _oracle_match(spark, badprops_sf_dir, name)


@pytest.fixture(scope="session")
def empty_orders_sf_dir(tmp_path_factory):
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("sfemptyorders")
    for f in _os.listdir(_SRC):
        if not f.endswith(".parquet"):
            continue
        p = _os.path.join(_SRC, f)
        if f == "orders.parquet":
            pq.write_table(pq.read_table(p).slice(0, 0), str(d / f))
        else:
            _shutil.copy(p, d / f)
    return str(d)


def test_observe_metrics_empty_table(spark, empty_orders_sf_dir):
    """q74 crashed on an empty (or all-out-of-domain) orders table:
    float(None) on the observed sum — SQL's sum-of-nothing is NULL on
    both engines, so the metric row must carry NULL, not crash (and the
    row needs an explicit schema, since a None field defeats Row-based
    inference)."""
    _oracle_match(spark, empty_orders_sf_dir, "q74_observe_metrics")


def test_zorder_degenerate_inputs(spark):
    """Cold-review probes of operators/layout.py: an all-NULL z-column
    (empty quantile edge list → zero-arg F.array) and an empty frame
    must both code cleanly — the all-NULL dimension degrades to one bin
    (clusters nothing, prunes nothing) rather than failing analysis."""
    from fs2_kafka_streams_spark.operators.layout import zorder_code

    df = spark.createDataFrame(
        pd.DataFrame({"x": [None] * 10, "y": [1.0] * 10}).astype(
            {"x": "float64"}
        )
    )
    assert df.select(zorder_code(df, ["x", "y"], 4)).distinct().count() == 1
    df2 = spark.createDataFrame([], "x double, y double")
    assert df2.select(zorder_code(df2, ["x", "y"], 4)).count() == 0


def test_md5_int64_null_and_word_independence(spark):
    """Cold-review pin of functions/hashing.py: NULL hashes to NULL on
    both engines, and the two 60-bit words come from DISJOINT md5 hex
    ranges (chars 1-15 / 16-30) — an overlap would correlate SimHash
    bit planes."""
    import duckdb
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.functions.hashing import (
        SQL_MD5_INT64,
        SQL_MD5_INT64_HI,
        md5_int64,
        md5_int64_hi,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"s": ["hello", None, ""]})
    )
    got = df.select(
        md5_int64(F.col("s")).alias("lo"), md5_int64_hi(F.col("s")).alias("hi")
    ).collect()
    exp = duckdb.sql(
        f"SELECT {SQL_MD5_INT64('s')} AS lo, {SQL_MD5_INT64_HI('s')} AS hi "
        "FROM (VALUES ('hello'), (NULL), ('')) t(s)"
    ).fetchall()
    assert [(r["lo"], r["hi"]) for r in got] == [tuple(r) for r in exp]
    assert got[1]["lo"] is None and got[1]["hi"] is None
    assert got[0]["lo"] != got[0]["hi"]


@pytest.fixture(scope="session")
def dupid_emb_sf_dir(tmp_path_factory):
    """Duplicate-primary-key embeddings (r11 randomized fuzz, seed 1):
    exact duplicate rows AND a same-id-different-vector conflict. The
    r10 all-duplicates axis had identical VECTORS under distinct ids —
    duplicate vec_id rows were never tested, and they broke the LSH
    family asymmetrically: the oracle's hsigs GROUP BY vec_id SUMMED
    duplicate rows' sign bits into garbage signatures while the Spark
    path signed per-row."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    d = tmp_path_factory.mktemp("sfdupidemb")
    for f in _os.listdir(_SRC):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            _shutil.copy(_os.path.join(_SRC, f), d / f)
    t = _pq.read_table(_os.path.join(_SRC, "embeddings.parquet"))
    dim = len(t.column("embedding")[0])
    first = [float(x.as_py()) for x in t.column("embedding")[0]]
    conflict_lo = [-1.0] + [0.5] * (dim - 1)   # lexicographically least
    conflict_hi = [1.0] + [0.5] * (dim - 1)
    extra = _pa.table(
        {
            "vec_id": _pa.array(
                [int(t.column("vec_id")[0].as_py())] * 2 + [9001, 9001],
                _pa.int64(),
            ),
            "embedding": _pa.array(
                [first, first, conflict_hi, conflict_lo],
                _pa.list_(_pa.float32()),
            ),
            "label": _pa.array([1, 1, 1, 1], _pa.int32()),
        }
    )
    out = _pa.concat_tables([t.cast(extra.schema), extra])
    _pq.write_table(out, str(d / "embeddings.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "q44_cosine_topk",
        "q44b_lsh_ann",
        "q44b_lsh_ann_neardup",
        "q44c_embedding_neardup",
        "q44d_embedding_neardup_lsh",
        "q44e_ivf_ann",
        "q54_semantic_dedup",
    ],
)
def test_similarity_duplicate_vec_ids(spark, dupid_emb_sf_dir, name):
    """One row per vec_id is now part of the similarity input contract
    (queries/llm.py::_emb + _EMB_SQL): well-formed filter, then
    min(embedding) per id — deterministic and identical on both engines
    (lexicographic array/list min), map-side combinable. Five entries
    diverged on the fuzz corpus before the fix."""
    _oracle_match(spark, dupid_emb_sf_dir, name)


def test_emb_dedup_min_survivor(spark, dupid_emb_sf_dir):
    """The same-id-different-vector conflict resolves to the
    lexicographically-least embedding on the Spark half."""
    from fs2_kafka_streams_spark.queries.llm import _emb

    rows = (
        _emb(spark, dupid_emb_sf_dir)
        .filter("vec_id = 9001")
        .collect()
    )
    assert len(rows) == 1
    assert rows[0]["embedding"][0] == -1.0


@pytest.fixture(scope="session")
def dupdoc_sf_dir(tmp_path_factory):
    """Duplicate-doc_id documents (r11 randomized fuzz, seed 3): exact
    duplicate rows. Broke the two ENTITY-shaped document entries — q47's
    oracle UNNESTED both duplicate payloads into one media_id's byte
    aggregation (n_bytes doubled vs the per-row mapInPandas), and q66's
    oracle row_number interleaved two rows' sentences into one ordinal
    sequence while the UDTF restarts idx per input row. The per-row
    document entries (q41-q43 family) were already duplicate-consistent
    and ride as controls."""
    d = tmp_path_factory.mktemp("sfdupdoc")
    for f in _os.listdir(_SRC):
        if f.endswith(".parquet") and f != "documents.parquet":
            _shutil.copy(_os.path.join(_SRC, f), d / f)
    docs = pd.read_parquet(_os.path.join(_SRC, "documents.parquet"))
    dup = docs.head(20)
    pd.concat([docs, dup, dup.head(7)], ignore_index=True).to_parquet(
        d / "documents.parquet", index=False
    )
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "q47_multimodal_features",
        "q66_python_udtf",
        "q43b_text_metrics",   # control: per-row semantics, was green
        "q41_dedup_decontaminate",  # control
    ],
)
def test_entity_entries_duplicate_doc_ids(spark, dupdoc_sf_dir, name):
    """One document per doc_id (min text) is now part of the two
    entity-shaped entries' contracts on BOTH halves."""
    _oracle_match(spark, dupdoc_sf_dir, name)


@pytest.fixture(scope="session")
def smallemb_sf_dir(tmp_path_factory):
    """Small-but-not-tiny embeddings (r11 fuzz seed 3): ~80 rows — above
    the r10 corpus<nlist shrink, below any statistical recall floor for
    nprobe=4/nlist=16 (each query scored ~17 of 70 vectors and missed
    top-5 recall)."""
    import pyarrow.parquet as _pq

    d = tmp_path_factory.mktemp("sfsmallemb")
    for f in _os.listdir(_SRC):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            _shutil.copy(_os.path.join(_SRC, f), d / f)
    t = _pq.read_table(_os.path.join(_SRC, "embeddings.parquet"))
    _pq.write_table(t.slice(0, min(80, t.num_rows)),
                    str(d / "embeddings.parquet"))
    return str(d)


def test_ivf_small_corpus_exhaustive_floor(spark, smallemb_sf_dir):
    """Below IVF_EXHAUSTIVE_FLOOR the index probes every cell (an IVF's
    quality premise corpus >> nlist*occupancy is absent) — the recall
    contract is total again."""
    from fs2_kafka_streams_spark.operators.similarity import (
        IVF_EXHAUSTIVE_FLOOR,
    )

    assert IVF_EXHAUSTIVE_FLOOR >= 128
    _oracle_match(spark, smallemb_sf_dir, "q44e_ivf_ann")
