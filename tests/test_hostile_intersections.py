"""Hostile AXIS-INTERSECTION matrix (r11 second half).

The r10 campaign swept single axes; the r11 cold review proved
intersections find bugs single axes miss (extreme-numerics x far-dates
overflowed q63's BIGINT cent-seconds — `tests/test_review_r11_fixes.py`).
This module pins the five intersection / follow-on axes probed after
that finding, each a corpus the single-axis campaign never built:

- **zero-norm vectors** (embeddings): all-zero and denormal-tiny
  (1e-30-element) vectors are WELL-FORMED under the r10 vector
  contract (non-NULL, declared dim, |element| <= 100) yet make
  cosine 0/0. Validated: the whole similarity family yields NULL /
  drops the pair identically on both engines — the quantized-int
  dot (`operators/similarity.py:112` NULL-on-zero-norm; the numpy
  block path's NaN never passes a `>=` threshold, matching the
  oracle's NULLs) keeps the boundary consistent. Zero divergences.
- **empty/whitespace-only text** (documents): "" and " \t\n" are not
  NULL — the r10 NULL-text axis never exercised them. Validated: the
  text/dedup/quality family (20 oracled specs) is hash-green; the
  trim-based predicates and shingle guards treat blank-but-present
  text identically on both engines. Zero divergences.
- **all-duplicates x NULL event-ids** (events, streaming): 200
  identical rows ALL unkeyed — the fold tie-break has literally
  nothing to order on (the r11 single axes each kept a discriminant:
  alldup had cycling ids, nullid had distinct (user, ts)). Validated:
  stream == batch oracle on all 16 streaming entries.
- **far-date events through the streaming replay** (events): the r10
  calendar axis swept these as one-shot corpora; this pins ns-bound
  (2262 / 1677) and epoch-adjacent timestamps through the replay +
  watermark machinery as a permanent axis. The watermark epoch floor
  (r10 finding) is load-bearing here.
- **hot-key x far-dates** (events, streaming): ALL state in one key
  AND the watermark at the ns ceiling; q48/q72 emit ~322k pairs
  (the quadratic hot-key output measured in SCALE.md "Stream-stream
  join skew") and must still hash-match. Subset: the four
  skew-sensitive stateful shapes.

Reference anchors: the 4-hot-user fixture
``ReadOnlyTableSpec.scala:41-54``; tie-broken upserts
``streams/Tables.scala:110-138``.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from fs2_kafka_streams_spark.queries import load_all
from fs2_kafka_streams_spark.testing import driver_gate

SRC_SMOKE = "/root/testdata/sf0.001"
SRC_CORRECT = "/root/testdata/sf0.01"

STREAMING_ENTRIES = [
    "q33b_windows_streaming",
    "q33b_tumbling_window_streaming",
    "q35b_session_window_streaming",
    "q36_watermark_late_drop",
    "q37_dedup",
    "q38_stateful_latest",
    "q38b_stateful_latest_tws",
    "q45_stream_table_join",
    "q46_stream_dedup",
    "q48_stream_stream_join",
    "q57_stream_pattern_match",
    "q57b_stream_pattern_tws_timers",
    "q59_stream_funnel_match",
    "q67_python_datasource",
    "q72_stream_outer_join",
    "q75_state_reader",
]

# skew-sensitive stateful subset — the hot x far-date corpus is the
# expensive one (quadratic join output), so it runs only these
HOT_ENTRIES = [
    "q38_stateful_latest",
    "q48_stream_stream_join",
    "q57b_stream_pattern_tws_timers",
    "q72_stream_outer_join",
]

SIMILARITY_ENTRIES = [
    "q44_cosine_topk",
    "q44b_lsh_ann",
    "q44b_lsh_ann_neardup",
    "q44c_embedding_neardup",
    "q44d_embedding_neardup_lsh",
    "q44e_ivf_ann",
    "q54_semantic_dedup",
]

TEXT_ENTRIES = [
    "q41_dedup_decontaminate",
    "q41_exact_dedup",
    "q41b_decontaminate",
    "q42_ngram_jaccard",
    "q42b_minhash_lsh",
    "q42b_minhash_simhash",
    "q42c_simhash",
    "q42d_dedup_clusters",
    "q43_top_terms",
    "q43b_text_metrics",
    "q43f_quality_filter",
    "q43g_source_mix",
    "q43h_boilerplate",
    "q43i_chunking",
    "q47_multimodal_features",
    "q50_table_profile",
]


def _copy_base(src, d, skip):
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != skip:
            shutil.copy(os.path.join(src, f), os.path.join(d, f))


@pytest.fixture(scope="session")
def zerovec_dir(tmp_path_factory):
    """sf0.01 embeddings plus all-zero, denormal-tiny (quantizes to
    zero), and all-ones vectors — well-formed per the r10 contract,
    zero or degenerate norm."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("sfzerovec")
    _copy_base(SRC_CORRECT, d, "embeddings.parquet")
    t = pq.read_table(os.path.join(SRC_CORRECT, "embeddings.parquet"))
    dim = len(t.column("embedding")[0])
    zeros = [0.0] * dim
    near = [0.0] * (dim - 1) + [1e-30]
    extra = pa.table(
        {
            "vec_id": pa.array([9001, 9002, 9003, 9004], pa.int64()),
            "embedding": pa.array(
                [zeros, zeros, near, [1.0] * dim], pa.list_(pa.float32())
            ),
            "label": pa.array([1, 1, 1, 1], pa.int32()),
        }
    )
    out = pa.concat_tables([t.cast(extra.schema), extra])
    pq.write_table(out, str(d / "embeddings.parquet"))
    return str(d)


@pytest.fixture(scope="session")
def emptytext_dir(tmp_path_factory):
    """sf0.01 documents plus blank-but-present text: "", whitespace
    runs, tabs/newlines only, single chars."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("sfemptytext")
    _copy_base(SRC_CORRECT, d, "documents.parquet")
    t = pq.read_table(os.path.join(SRC_CORRECT, "documents.parquet"))
    texts = ["", " ", "   ", "\t", "\n\n", " \t \n ", "a", ".", "word",
             "  leading and trailing  "]
    n = len(texts)
    extra = pa.table(
        {
            "doc_id": pa.array([9001 + i for i in range(n)], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["hostile"] * n, pa.string()),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    out = pa.concat_tables([t.cast(extra.schema), extra])
    pq.write_table(out, str(d / "documents.parquet"))
    return str(d)


def _fardate_events(e):
    n = len(e)
    base_hi = pd.Timestamp("2262-04-11 23:00:00")
    base_lo = pd.Timestamp("1677-09-21 01:00:00")
    ts = []
    for i in range(n):
        if i % 10 == 0:
            ts.append(base_lo + pd.Timedelta(seconds=i))
        elif i % 10 == 1:
            ts.append(
                pd.Timestamp("1970-01-01 00:00:00") + pd.Timedelta(seconds=i)
            )
        else:
            ts.append(base_hi + pd.Timedelta(milliseconds=i * 37))
    f = e.copy()
    f["ts"] = pd.Series(ts).astype("datetime64[us]")
    return f


@pytest.fixture(scope="session")
def fardate_events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sffardate")
    _copy_base(SRC_SMOKE, d, "events.parquet")
    e = pd.read_parquet(os.path.join(SRC_SMOKE, "events.parquet"))
    _fardate_events(e).to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.fixture(scope="session")
def alldup_nullid_events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sfalldupnullid")
    _copy_base(SRC_SMOKE, d, "events.parquet")
    e = pd.read_parquet(os.path.join(SRC_SMOKE, "events.parquet"))
    n = 200
    dup = pd.DataFrame(
        {
            "event_id": pd.array([None] * n, dtype="Int64"),
            "ts": pd.Series([e["ts"].iloc[0]] * n).astype("datetime64[us]"),
            "user_id": pd.array(
                [int(e["user_id"].iloc[0])] * n, dtype="int64"
            ),
            "event_type": [e["event_type"].iloc[0]] * n,
            "value": [float(e["value"].iloc[0])] * n,
            "props": [e["props"].iloc[0]] * n,
        }
    )
    dup.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.fixture(scope="session")
def hot_fardate_events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sfhotfardate")
    _copy_base(SRC_SMOKE, d, "events.parquet")
    e = pd.read_parquet(os.path.join(SRC_SMOKE, "events.parquet"))
    h = _fardate_events(e)
    h["user_id"] = int(e["user_id"].iloc[0])
    h.to_parquet(d / "events.parquet", index=False)
    return str(d)


def _assert_oracle_match(spark, sf_dir, name):
    assert driver_gate(spark, sf_dir, load_all()[name])


@pytest.mark.parametrize("name", SIMILARITY_ENTRIES)
def test_zero_norm_vectors_contract(spark, zerovec_dir, name):
    """Zero/denormal-norm vectors are well-formed; cosine 0/0 must be
    NULL-or-dropped IDENTICALLY on both engines."""
    _assert_oracle_match(spark, zerovec_dir, name)


@pytest.mark.parametrize("name", TEXT_ENTRIES)
def test_blank_text_contract(spark, emptytext_dir, name):
    """Blank-but-present text ("" / whitespace runs) through the whole
    text/dedup/quality family."""
    _assert_oracle_match(spark, emptytext_dir, name)


@pytest.mark.parametrize("name", STREAMING_ENTRIES)
def test_fardate_replay_contract(spark, fardate_events_dir, name):
    """ns-bound timestamps through the streaming replay + watermark
    machinery (the r10 epoch-floor fix is load-bearing here)."""
    _assert_oracle_match(spark, fardate_events_dir, name)


@pytest.mark.parametrize("name", STREAMING_ENTRIES)
def test_alldup_nullid_contract(spark, alldup_nullid_events_dir, name):
    """Every event identical AND unkeyed: the tie-break has nothing to
    order on and must agree with the batch oracle anyway."""
    _assert_oracle_match(spark, alldup_nullid_events_dir, name)


@pytest.mark.parametrize("name", HOT_ENTRIES)
def test_hot_fardate_contract(spark, hot_fardate_events_dir, name):
    """All state in one key at the ns ceiling; q48/q72 emit ~322k
    quadratic pairs and must still hash-match."""
    _assert_oracle_match(spark, hot_fardate_events_dir, name)
