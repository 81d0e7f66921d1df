#!/usr/bin/env python
"""State-partition-count probe for the SQL-native streaming entries.

Usage: python scripts/stream_partitions_probe.py [reps]

r11 measured the stream-stream joins best at 8 state partitions and the
Python-stateful entries at 16; the SQL-native window aggregations
(q33b complete-mode, q36 append+watermark) ran at the global 16, now
``conf.STREAM_STATE_PARTITIONS`` (min(cores, 16)).
This probe interleaves each entry at candidate partition counts (min-of-N
per variant, same-window pairing) to decide whether their per-trigger
store open/commit cost also wants fewer, larger stores — the q48/q72
rationale — or whether aggregation parallelism pays for 16. Every rep is
timed by ``bench.run_entry``, which also drops the rep's memory sink.
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.1"


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    from bench import run_entry
    from fs2_kafka_streams_spark.queries import load_all
    from fs2_kafka_streams_spark.session import get_spark
    import fs2_kafka_streams_spark.streaming.conf as C

    spark = get_spark(app_name="stream-partitions-probe")
    spark.read.parquet(f"{SF}/region.parquet").count()
    specs = load_all()

    default = C.STREAM_PERF_CONF["spark.sql.shuffle.partitions"]

    cases = [
        ("q33b_tumbling_window_streaming", ["16", "8", "4"]),
        ("q36_watermark_late_drop", ["16", "8", "4"]),
    ]
    mins: dict[str, float] = {}
    for r in range(reps):
        for name, variants in cases:
            for v in variants:
                C.STREAM_PERF_CONF["spark.sql.shuffle.partitions"] = v
                key = f"{name.split('_')[0]}@{v}"
                try:
                    dt, _pinned, _runs = run_entry(spark, specs[name], SF)
                finally:
                    # restored even when the run raises: the dict is the
                    # process-wide default every later streaming query pins
                    C.STREAM_PERF_CONF["spark.sql.shuffle.partitions"] = default
                mins[key] = min(mins.get(key, 1e9), dt)
                print(f"rep {r} {key}: {dt:.3f}s (min {mins[key]:.3f})",
                      flush=True)
    print("\nmins:", {k: round(v, 3) for k, v in sorted(mins.items())})


if __name__ == "__main__":
    main()
