#!/usr/bin/env python
"""Streaming stream-stream JOIN skew probe (r10 VERDICT Next #4).

The salted-fold evidence covers A7's per-key fold under hot keys; this
probe measures the one streaming state shape without skew evidence: the
watermarked ±5-min self-join (q48/q72's A14 shape), where a hot user
concentrates the join state of BOTH sides in one state-store partition.

Corpus: the r10 q72 6x shape (600k background events uniform over 100k
keys, ~10-minute span) PLUS H planted hot events on one user, H swept
over {0, 1k, 2k, 4k}. The sweep separates the two skew costs:

- STATE concentration is LINEAR in the hot rate: the hot partition holds
  hot_rate x (delay + range) rows — read per-partition from the State
  Data Source at end-of-run (the corpus span <= watermark delay, so
  nothing evicts and the end state is the full retained multiset);
- OUTPUT (and the trigger wall that serializes it) is QUADRATIC in the
  hot rate: every in-window hot pair is a result row. This is the actual
  skew cliff of a self-join — not store size. No salting can remove it
  (the pairs exist); salting-with-replication only spreads the pairing
  WORK across tasks.

Usage:
    python scripts/join_skew_probe.py [--out /tmp/join_skew] [--hots 0,1000,2000,4000]

Prints one JSON line per run (JOIN_ROW ...) and a markdown table for
SCALE.md. Reference anchor: the deliberately hot-user fixture
``ReadOnlyTableSpec.scala:41-54``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BG = 600_000
N_KEYS = 100_000
HOT_USER = 77  # in-domain key: its partition also holds background keys
SPAN_US_MEAN = 1_000  # background inter-event gap (~10-minute total span)


def gen_hot_corpus(path: str, n_hot: int, seed: int = 29) -> None:
    """600k uniform background events + n_hot events on HOT_USER, hot
    timestamps uniform over the same span (so every hot pair within
    ±5 minutes is a result row — the worst honest case)."""
    if os.path.exists(path):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    base_us = 1_700_000_000_000_000
    gaps = rng.randint(1, 2 * SPAN_US_MEAN, size=N_BG).astype("int64")
    ts = base_us + np.cumsum(gaps)
    span = int(ts[-1] - base_us)
    user = rng.randint(0, N_KEYS, size=N_BG).astype("int64")
    if n_hot:
        hot_ts = base_us + np.sort(
            rng.randint(0, span, size=n_hot).astype("int64")
        )
        ts = np.concatenate([ts, hot_ts])
        user = np.concatenate(
            [user, np.full(n_hot, HOT_USER, dtype="int64")]
        )
    order = np.argsort(ts, kind="stable")
    ts, user = ts[order], user[order]
    n = len(ts)
    types = rng.choice(
        np.array(["view", "click", "purchase", "error"], dtype=object),
        size=n,
        p=[0.5, 0.3, 0.1, 0.1],
    )
    t = pa.table(
        {
            "event_id": pa.array(range(1, n + 1), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(rng.rand(n), pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(t, path)


def run_join(spark, sf_like: str, out: str, bucket_minutes: int = 0) -> dict:
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.streaming.conf import (
        STREAM_PERF_CONF,
        pinned_conf,
    )
    from fs2_kafka_streams_spark.streaming.replay import replay_dir
    from fs2_kafka_streams_spark.streaming.run import RUN_TRACE, _drain
    from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA

    rd = replay_dir(
        sf_like,
        "events",
        n_files=8,
        order_col="ts",
        cache_root=os.path.join(out, "replay_cache"),
    )
    ckpt = tempfile.mkdtemp(prefix="join_skew_ckpt_")

    def src():
        return (
            spark.readStream.schema(
                EVENTS_SCHEMA.replace("timestamp_ntz", "timestamp")
            )
            .option("maxFilesPerTrigger", 2)
            .parquet(rd)
            .withWatermark("ts", "10 minutes")
        )

    a, b = src(), src()
    on = [
        F.col("a.user_id") == F.col("b.user_id"),
        F.col("a.event_id") < F.col("b.event_id"),
        F.col("b.ts").between(
            F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"),
            F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"),
        ),
    ]
    if bucket_minutes:
        # the bucketed-work variant (stream_stream_join_bucketed):
        # equality on (user_id, time bucket), right side replicated into
        # adjacent buckets — spreads one hot key's pair enumeration over
        # span/bucket join keys
        bucket_us = bucket_minutes * 60 * 1_000_000
        bk = F.floor(F.unix_micros(F.col("ts")) / F.lit(bucket_us)).cast(
            "long"
        )
        a = a.withColumn("bk", bk)
        b = (
            b.withColumn("bk0", bk)
            .withColumn(
                "bk",
                F.explode(
                    F.array(
                        F.col("bk0") - F.lit(1),
                        F.col("bk0"),
                        F.col("bk0") + F.lit(1),
                    )
                ),
            )
            .drop("bk0")
        )
        on.insert(1, F.col("a.bk") == F.col("b.bk"))
    a, b = a.alias("a"), b.alias("b")
    joined = a.join(
        b,
        on=on,
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.user_id").alias("user_id"),
    )
    n_out = {"n": 0}

    def sink(bdf, bid):
        n_out["n"] += bdf.count()

    t0 = time.time()
    with pinned_conf(
        spark,
        {"spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "true"},
    ):
        _drain(
            spark,
            joined.writeStream.foreachBatch(sink),
            "join_skew_probe",
            {
                **STREAM_PERF_CONF,
                "spark.sql.shuffle.partitions": "8",
                "spark.sql.session.timeZone": "UTC",
            },
            ckpt,
        )
    wall = time.time() - t0
    triggers = RUN_TRACE[-1]["triggers"]
    trig_ms = [t["durationMs"].get("triggerExecution", 0) for t in triggers]
    # end-of-run per-partition distribution (span <= delay: no eviction,
    # so this IS the retained join state, not a post-eviction residue)
    per_part = {}
    for side in ("left", "right"):
        st = (
            spark.read.format("statestore")
            .option("joinSide", side)
            .load(ckpt)
        )
        for r in st.groupBy("partition_id").count().collect():
            per_part[r["partition_id"]] = (
                per_part.get(r["partition_id"], 0) + r["count"]
            )
    shutil.rmtree(ckpt, ignore_errors=True)
    parts = [per_part.get(k, 0) for k in range(8)]
    return {
        "wall_s": round(wall, 1),
        "triggers": len(trig_ms),
        "p50_trigger_ms": int(np.median(trig_ms)) if trig_ms else -1,
        "max_trigger_ms": int(np.max(trig_ms)) if trig_ms else -1,
        "out_rows": n_out["n"],
        "state_rows_final": triggers[-1]["state_rows"] if triggers else -1,
        "state_per_partition": parts,
        "state_part_max_over_mean": round(
            max(parts) / (sum(parts) / len(parts)), 2
        )
        if sum(parts)
        else -1.0,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/join_skew")
    ap.add_argument("--hots", default="0,1000,2000,4000")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    from fs2_kafka_streams_spark.session import get_spark

    spark = get_spark(app_name="join-skew-probe")
    rows = []
    hots = [int(x) for x in args.hots.split(",")]
    for h in hots:
        d = os.path.join(args.out, f"evdir_hot{h}")
        os.makedirs(d, exist_ok=True)
        gen_hot_corpus(os.path.join(d, "events.parquet"), h)
        m = run_join(spark, d, args.out)
        row = {"hot_events": h, **m}
        rows.append(row)
        print("JOIN_ROW", json.dumps(row), flush=True)
    # the mitigation, measured on the hottest corpus: bucketed work
    # spreading (5-minute buckets — the probe span is ~10 minutes, so
    # the hot pairs split over ~3 bucket keys; at a real span the spread
    # is span/bucket)
    d = os.path.join(args.out, f"evdir_hot{hots[-1]}")
    m = run_join(spark, d, args.out, bucket_minutes=5)
    row = {"hot_events": hots[-1], "variant": "bucketed_5m", **m}
    rows.append(row)
    print("JOIN_ROW", json.dumps(row), flush=True)

    print("\n| hot_events | wall_s | p50_trig_ms | max_trig_ms | out_rows "
          "| state_rows | part_max/mean |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['hot_events']} | {r['wall_s']} | {r['p50_trigger_ms']} "
            f"| {r['max_trigger_ms']} | {r['out_rows']} "
            f"| {r['state_rows_final']} | {r['state_part_max_over_mean']} |"
        )


if __name__ == "__main__":
    main()
