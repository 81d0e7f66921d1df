"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical inputs. The engine only ever sees the files these
functions write.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
ZIPF_S = 1.1  # the hottest of 2000 keys carries about 17% of the rows
PARTITIONS = 4  # keyed partitions of the wire topic


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int) -> np.ndarray:
    """``n`` draws from ids ``1..n_keys`` with P(rank r) proportional to
    1/r**ZIPF_S. Ranks map to ids through a seeded permutation that keeps
    ``(id - 1) % PARTITIONS == rank % PARTITIONS``: which ids are hot
    changes with the seed, but the load of each keyed partition does not,
    so the seed does not change how many paced triggers a topic needs."""
    p = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    ranks = rng.choice(n_keys, size=n, p=p / p.sum())
    rank_ids = np.arange(n_keys, dtype="int64")
    for r in range(PARTITIONS):
        rank_ids[r::PARTITIONS] = rng.permutation(rank_ids[r::PARTITIONS])
    return rank_ids[ranks] + 1


def skew_stats(keys: np.ndarray) -> dict:
    """Traffic shape of a key column: distinct keys and the share of rows
    carried by the hottest key and the hottest 1% of keys."""
    _, counts = np.unique(keys, return_counts=True)
    counts = np.sort(counts)[::-1]
    top1pct = max(1, len(counts) // 100)
    return {
        "rows": int(len(keys)),
        "distinct_keys": int(len(counts)),
        "hot_key_share": round(float(counts[0] / len(keys)), 4),
        "top1pct_key_share": round(float(counts[:top1pct].sum() / len(keys)), 4),
    }


def events(
    seed: int,
    n: int,
    n_keys: int,
    tombstone_share: float = 0.0,
    out_of_order_share: float = 0.0,
    malformed_share: float = 0.0,
) -> pd.DataFrame:
    """A keyed changelog in produce order (``event_id`` ascending).

    - ``ts`` advances about 1 s per event; an ``out_of_order_share`` of
      events carry a timestamp up to 30 minutes in the past, so they arrive
      after newer writes of the same key.
    - ``tombstone_share`` adds a boolean ``deleted`` column (True = delete).
    - ``malformed_share`` sets ``value`` to NaN. The wire producer writes
      those values as the bare token ``NaN``, which is not JSON, so the
      decoder must route them to the dead-letter view.
    """
    rng = np.random.default_rng(seed)
    user_id = zipf_keys(rng, n, n_keys)
    step = rng.integers(200_000, 1_800_000, size=n)  # µs between events
    ts = BASE_TS + np.cumsum(step).astype("timedelta64[us]")
    late = rng.random(n) < out_of_order_share
    back = rng.integers(1, 1_800_000_000, size=n).astype("timedelta64[us]")
    ts = np.where(late, ts - back, ts)
    value = np.round(rng.gamma(2.0, 10.0, size=n), 2)
    if malformed_share:
        value[rng.random(n) < malformed_share] = np.nan
    df = pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": user_id,
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })
    if tombstone_share:
        df["deleted"] = rng.random(n) < tombstone_share
    return df


def write_replay(df: pd.DataFrame, out_dir: str, n_files: int) -> list[str]:
    """Cut a produce-ordered frame into ``n_files`` contiguous parquet files
    with strictly increasing mtimes, so a file stream source reading
    ``maxFilesPerTrigger`` files per trigger replays them in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = time.time() - 3600
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, path)
        os.utime(path, (base + i, base + i))
        paths.append(path)
    return paths


def write_topic(df: pd.DataFrame, broker_dir: str, topic: str) -> str:
    """Produce an events frame into a simulated broker namespace as
    ``<broker_dir>/<topic>.parquet``, the layout the wire source reads.
    Columns are converted from numpy, not through pandas' parquet writer,
    so a NaN ``value`` stays NaN instead of becoming NULL."""
    os.makedirs(broker_dir, exist_ok=True)
    path = os.path.join(broker_dir, f"{topic}.parquet")
    cols = {c: pa.array(df[c].to_numpy()) for c in df.columns}
    pq.write_table(pa.table(cols), path)
    return path


def profiles(seed: int, n_keys: int) -> pd.DataFrame:
    """A profile changelog for the enrichment table: three writes per user,
    ordered by ``rev``; the latest write per user is the table value."""
    rng = np.random.default_rng(seed + 7919)
    n = n_keys * 3
    return pd.DataFrame({
        "user_id": np.repeat(np.arange(1, n_keys + 1, dtype="int64"), 3),
        "rev": rng.integers(0, 1_000_000, size=n).astype("int64"),
        "tier": np.array(["free", "pro", "team", "enterprise"])[
            rng.integers(0, 4, size=n)
        ],
        "score": np.round(rng.random(n) * 100, 3),
    })


def lookups(seed: int, n: int, key_pool: np.ndarray) -> np.ndarray:
    """Request keys for the lookup client: Zipf-skewed toward hot keys of
    ``key_pool``, with 5% of keys absent from the table."""
    rng = np.random.default_rng(seed + 104729)
    pool = np.asarray(key_pool, dtype="int64")
    keys = pool[zipf_keys(rng, n, len(pool)) - 1]
    miss = rng.random(n) < 0.05
    keys[miss] = -rng.integers(1, 1_000_000, size=int(miss.sum()))
    return keys
