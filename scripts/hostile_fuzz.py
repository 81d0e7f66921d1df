#!/usr/bin/env python
"""Randomized hostile-corpus fuzzing of the full oracled registry.

The r10/r11 campaign swept HAND-PICKED axes (12 single + 5
intersections) and converged — fresh hand-picked axes stopped finding
bugs. This instrument removes the hand from the picking: each seed
builds a corpus by applying a RANDOM COMBINATION of hostile transforms
(NULL injection, non-finite / boundary numerics, unicode zoo, calendar
extremes, row duplication, truncation, ill-formed vectors, malformed
props JSON) to random tables at random rates, then runs every oracled
``load_all()`` spec through the driver-gate canonicalize-and-hash
compare — the same contract as ``scripts/hostile_sweep.py``.

Any divergence is an engine-boundary finding the hand-picked axes
missed: reproduce with the printed seed, fix both halves or encode the
boundary, pin in ``tests/test_review_r*.py``.

Usage:
    python scripts/hostile_fuzz.py SEED [SEED ...]      # one sweep per seed
    python scripts/hostile_fuzz.py --base SF_DIR SEED   # default sf0.001

Exit 0 = all seeds green; 1 = at least one FAIL/ERR.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# the hostile value zoos (all drawn from the pinned single axes)
NASTY_DOUBLES = [
    float("nan"), float("inf"), float("-inf"), 1e308, -1e308, 5e-324,
    -0.0, 0.0, 1e14, -1e14, 9.99e13, 1e-320, 123456.789,
]
NASTY_STRINGS = [
    # NO ß/İ: one-to-many case mapping (upper('ß'), lower('İ')) is the
    # separately-pinned engine boundary (tests/test_review_r10_fixes.py
    # test_unicode_engine_boundary) — excluded from corpora there and
    # here alike, so a zoo hit reports NEW findings only
    "", " ", "\t\n", "a" * 1000, "éàü", "\U0001F600\U0001F4A9",
    "‏مرحبا", "你好世界",
    "x\x00y", "combininǵ̂̃", "'; DROP TABLE--",
]
NASTY_TS = [
    pd.Timestamp("2262-04-11 23:47:16"), pd.Timestamp("1677-09-21 00:12:44"),
    pd.Timestamp("1970-01-01 00:00:00"), pd.Timestamp("1969-12-31 23:59:59"),
    pd.Timestamp("2016-03-13 02:30:00"),  # DST gap (US)
    pd.Timestamp("2000-02-29 12:00:00"),
]
NASTY_INTS = [0, -1, 1, 2**62, -(2**62), 2**31 - 1, -(2**31)]
NASTY_JSON = [
    "", "{", "not json", '{"a":}', "[1,2", '{"k": NaN}', "null", "[]",
    '{"nested": {"deep": [1, {"x": "é"}]}}',
]


def _mutate_table(rng: random.Random, name: str, pdf: pd.DataFrame,
                  transforms: list[str]) -> pd.DataFrame:
    if len(pdf) == 0:
        return pdf
    out = pdf.copy().reset_index(drop=True)
    # snapshot column kinds at ENTRY: null_inject promotes int columns
    # to float64 mid-mutation, and injecting 1e308 into what is really
    # an int32 parquet column crashes the schema-preserving cast-back
    float_cols = [c for c in out.columns
                  if np.issubdtype(out[c].dtype, np.floating)]
    int_bits = {c: out[c].dtype.itemsize * 8 for c in out.columns
                if np.issubdtype(out[c].dtype, np.integer)}

    def pick_rows(rate):
        m = len(out)
        k = max(1, int(m * rate))
        return rng.sample(range(m), min(k, m))

    for t in transforms:
        if t == "null_inject":
            # random NULLs into a few random columns (never ALL rows of
            # the events order column -- the replay sentinel raises
            # loudly on an all-NULL watermark column by design)
            cols = rng.sample(list(out.columns),
                             min(len(out.columns), rng.randint(1, 3)))
            for c in cols:
                rows = pick_rows(rng.uniform(0.02, 0.25))
                out.loc[rows, c] = None
        elif t == "nasty_doubles":
            for c in out.columns:
                if c in float_cols:
                    rows = pick_rows(rng.uniform(0.02, 0.2))
                    out.loc[rows, c] = [rng.choice(NASTY_DOUBLES)
                                        for _ in rows]
        elif t == "nasty_strings":
            for c in out.columns:
                if out[c].dtype == object and name != "embeddings" \
                        and c != "props":
                    if len(out[c].dropna()) and isinstance(
                            out[c].dropna().iloc[0], str):
                        rows = pick_rows(rng.uniform(0.02, 0.15))
                        out.loc[rows, c] = [rng.choice(NASTY_STRINGS)
                                            for _ in rows]
        elif t == "nasty_ts":
            for c in out.columns:
                if np.issubdtype(out[c].dtype, np.datetime64):
                    rows = pick_rows(rng.uniform(0.02, 0.2))
                    out.loc[rows, c] = [rng.choice(NASTY_TS) for _ in rows]
        elif t == "nasty_ints":
            for c, bits in int_bits.items():
                if not c.endswith("key"):
                    # keep join keys intact-typed but still fuzz ids;
                    # values bounded by the column's ORIGINAL width
                    zoo = [v for v in NASTY_INTS
                           if -(2 ** (bits - 1)) <= v < 2 ** (bits - 1)]
                    rows = pick_rows(rng.uniform(0.01, 0.1))
                    out.loc[rows, c] = [rng.choice(zoo) for _ in rows]
        elif t == "dup_rows":
            rows = pick_rows(rng.uniform(0.05, 0.3))
            out = pd.concat([out, out.iloc[rows]], ignore_index=True)
        elif t == "truncate":
            out = out.head(
                max(3, int(len(out) * rng.uniform(0.05, 0.3)))
            ).reset_index(drop=True)
        elif t == "bad_props" and "props" in out.columns:
            rows = pick_rows(rng.uniform(0.05, 0.3))
            out.loc[rows, "props"] = [rng.choice(NASTY_JSON) for _ in rows]
        elif t == "bad_vectors" and name == "embeddings":
            # ill-formed vectors: the well-formed contract must drop
            # them IDENTICALLY on both engine halves
            rows = pick_rows(rng.uniform(0.05, 0.25))
            dim = len(out["embedding"].iloc[0])
            zoo = [
                None,
                [float("nan")] * dim,
                [1e30] + [0.0] * (dim - 1),
                [0.5] * (dim - 1),            # wrong dim
                [0.5] * (dim + 3),            # wrong dim
                [None] + [0.25] * (dim - 1),  # NULL element
                [0.0] * dim,                  # zero norm (well-formed!)
            ]
            vals = out["embedding"].tolist()
            for r in rows:
                vals[r] = rng.choice(zoo)
            out["embedding"] = vals
    return out


def build_corpus(seed: int, base: str, dest: str) -> list[str]:
    """Build one seeded random hostile corpus under dest; returns the
    applied (table, transforms) description lines."""
    rng = random.Random(seed)
    all_t = ["null_inject", "nasty_doubles", "nasty_strings", "nasty_ts",
             "nasty_ints", "dup_rows", "truncate", "bad_props",
             "bad_vectors"]
    desc = []
    targets = rng.sample(TABLES, rng.randint(2, 5))
    os.makedirs(dest, exist_ok=True)
    for t in TABLES:
        src = os.path.join(base, f"{t}.parquet")
        dst = os.path.join(dest, f"{t}.parquet")
        if t not in targets:
            shutil.copy(src, dst)
            continue
        transforms = rng.sample(all_t, rng.randint(1, 4))
        schema = pq.read_schema(src)
        pdf = pd.read_parquet(src)
        mut = _mutate_table(rng, t, pdf, transforms)
        # rebuild with the ORIGINAL schema (int32/float32/us-ts exact)
        tab = pa.Table.from_pandas(mut, preserve_index=False)
        cast = []
        for f in schema:
            col = tab.column(f.name) if f.name in tab.column_names else None
            cast.append(col.cast(f.type) if col is not None else
                        pa.nulls(len(tab), f.type))
        pq.write_table(pa.table(dict(zip(schema.names, cast))), dst)
        desc.append(f"  {t}: {'+'.join(transforms)} ({len(mut)} rows)")
    return desc


def sweep(corpus: str) -> tuple[int, int, list[str]]:
    from fs2_kafka_streams_spark.queries import load_all
    from fs2_kafka_streams_spark.session import get_spark
    from fs2_kafka_streams_spark.testing import driver_gate, duck_connect

    spark = get_spark(app_name="hostile-fuzz")
    con = duck_connect(corpus)
    ok = fail = 0
    bad = []
    for name, spec in load_all().items():
        if not spec.oracle:
            continue
        try:
            res = driver_gate(spark, corpus, spec, con=con)
            good = bool(res)
        except Exception as ex:  # noqa: BLE001 - report, keep sweeping
            good = False
            bad.append(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:200]}")
        else:
            if not good:
                bad.append(
                    f"FAIL {name}: spark={res.spark_rows} duck={res.oracle_rows}"
                )
        if good:
            ok += 1
        else:
            fail += 1
    return ok, fail, bad


def main() -> None:
    args = sys.argv[1:]
    base = "/root/testdata/sf0.001"
    if args and args[0] == "--base":
        base = args[1]
        args = args[2:]
    if not args:
        print(__doc__)
        sys.exit(2)
    any_bad = False
    for seed_s in args:
        seed = int(seed_s)
        dest = tempfile.mkdtemp(prefix=f"fuzz{seed}_")
        desc = build_corpus(seed, base, dest)
        print(f"=== seed {seed} -> {dest}", flush=True)
        for line in desc:
            print(line, flush=True)
        ok, fail, bad = sweep(dest)
        for b in bad:
            print(b, flush=True)
        print(f"seed {seed}: {ok} ok / {fail} fail", flush=True)
        if fail:
            any_bad = True
        else:
            shutil.rmtree(dest, ignore_errors=True)
    sys.exit(1 if any_bad else 0)


if __name__ == "__main__":
    main()
