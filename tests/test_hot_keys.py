"""Hot keys: the latest-by-key fold ≡ the batch oracle on hot-key
corpora, and the hot-key detector that feeds ``salted_join``.

The fold needs no salting for a hot key: its ``max_by`` aggregation
pre-combines each input task's rows of a key before the state shuffle.
These tests run it against hot40 (the reference's 4-hot-user fixture
shape, ``ReadOnlyTableSpec.scala:41-54``) and a 95%-hot corpus.

The corpora interleave event times across replay files on purpose: a later
micro-batch then delivers OLDER rows of the hot key, which the fold must
lose against the state it already holds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fs2_kafka_streams_spark.operators.latest_by_key import latest_by_key
from tests.conftest import write_replay_files

N_ROWS = 4000
N_FILES = 6


def _hot_corpus(hot_frac: float, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_hot = int(N_ROWS * hot_frac)
    user_id = np.concatenate(
        [
            np.full(n_hot, 7, dtype=np.int64),
            rng.integers(100, 300, size=N_ROWS - n_hot),
        ]
    )
    rng.shuffle(user_id)
    ts = pd.to_datetime(
        rng.integers(0, 86_400, size=N_ROWS), unit="s", origin="2024-03-01"
    )
    return pd.DataFrame(
        {
            "event_id": rng.permutation(np.arange(1, N_ROWS + 1)),
            "ts": ts,
            "user_id": user_id,
            "event_type": rng.choice(["view", "click", "buy"], size=N_ROWS),
            "value": rng.random(size=N_ROWS).round(6),
            "props": ["{}"] * N_ROWS,
        }
    )


def _replay(tmp_path, pdf: pd.DataFrame, name: str) -> str:
    frames = np.array_split(pdf, N_FILES)
    return write_replay_files(tmp_path / name, list(frames))


def _collect_sorted(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    )


@pytest.mark.parametrize("hot_frac", [0.4, 0.95])
def test_streaming_fold_hot_key_matches_batch_oracle(
    spark, tmp_path, hot_frac
):
    from fs2_kafka_streams_spark.streaming.stateful import (
        latest_by_key_streaming_with_deletes,
    )

    pdf = _hot_corpus(hot_frac, seed=41)
    replay = _replay(
        tmp_path, pdf.assign(deleted=False), f"hot{int(hot_frac * 100)}"
    )
    got = latest_by_key_streaming_with_deletes(spark, replay)

    batch = spark.createDataFrame(pdf.assign(ts=pdf["ts"].astype("datetime64[us]")))
    oracle = latest_by_key(batch, ["user_id"], ["ts", "event_id"]).select(
        *got.columns
    )
    assert _collect_sorted(got) == _collect_sorted(oracle)
    # the hot key must be present and correct, not just the cold tail
    assert any(r["user_id"] == 7 for r in got.collect())


def test_batch_fold_tie_determinism(spark):
    """Same (key, order) with different values: the tie breaks by the
    greatest value tuple, so the result is deterministic."""
    rows = [(1, 10, v) for v in ("a", "z", "m")] + [(2, 5, "x")]
    df = spark.createDataFrame(rows, "k long, pos long, v string")
    out = latest_by_key(df, ["k"], ["pos"])
    assert {r["v"] for r in out.collect() if r["k"] == 1} == {"z"}


def test_batch_fold_value_cols_excluding_order(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], "k long, pos long, v string"
    )
    out = latest_by_key(df, ["k"], ["pos"], value_cols=["v"])
    assert out.columns == ["k", "v"]
    assert out.collect()[0]["v"] == "b"


# ---------------------------------------------------------------------------
# automatic hot-key detection feeding salted_join
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("hot_frac", [0.4, 0.95])
def test_detect_hot_keys_finds_the_hot_key(spark, hot_frac):
    """One map-side-combined count pass finds exactly the skewed key: the
    hot key carries hot_frac of the rows; each of the ~200 cold keys
    carries < 0.3%, far under the 1% share threshold."""
    from fs2_kafka_streams_spark.operators.joins import detect_hot_keys

    pdf = _hot_corpus(hot_frac, seed=31)
    df = spark.createDataFrame(pdf)
    assert detect_hot_keys(df, "user_id", share=0.01) == [7]
    # share bounds + empty input
    with pytest.raises(ValueError, match="share"):
        detect_hot_keys(df, "user_id", share=1.5)
    assert detect_hot_keys(df.limit(0), "user_id") == []


def test_detect_hot_keys_null_group_targetable(spark):
    """A NULL-heavy key is the classic unset-field hot spot: the detector
    returns it as None, and the shared targeting predicate matches the
    NULL-key rows (plain isin() would silently skip them)."""
    from fs2_kafka_streams_spark.operators.joins import (
        detect_hot_keys,
        hot_key_condition,
    )

    pdf = _hot_corpus(0.6, seed=37)
    pdf = pdf.copy()
    pdf.loc[pdf["user_id"] == 7, "user_id"] = None
    df = spark.createDataFrame(pdf)
    hot = detect_hot_keys(df, "user_id", share=0.01)
    assert hot == [None]
    # without the isNull branch the predicate is False for every row
    n_hot = df.filter(hot_key_condition("user_id", hot)).count()
    assert n_hot == (pdf["user_id"].isna()).sum()


def test_salted_join_accepts_predetected_hot_keys(spark):
    """salted_join takes the detector's list via hot_keys (skipping its
    inline count pass); result ≡ the plain join,
    and hot_threshold/hot_keys are mutually exclusive."""
    from fs2_kafka_streams_spark.operators.joins import salted_join

    pdf = _hot_corpus(0.95, seed=47)
    big = spark.createDataFrame(pdf)
    small = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [7] + list(range(100, 300)),
                "segment": ["hot"] + ["cold"] * 200,
            }
        )
    )
    want = _collect_sorted(big.join(small, on="user_id", how="inner"))
    got = salted_join(big, small, "user_id", salt=8, hot_keys=[7])
    assert _collect_sorted(got) == want
    with pytest.raises(ValueError, match="not both"):
        salted_join(
            big, small, "user_id", hot_threshold=100, hot_keys=[7]
        )
