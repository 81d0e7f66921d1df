#!/usr/bin/env python
"""State-partition-count probe for the SQL-native streaming entries.

Usage: python scripts/stream_partitions_probe.py [reps]

r11 measured the stream-stream joins best at 8 state partitions and the
Python-stateful entries at 16; the SQL-native window aggregations
(q33b complete-mode, q36 append+watermark) still run at the global 16.
This probe interleaves each entry at candidate partition counts (min-of-N
per variant, same-window pairing) to decide whether their per-trigger
store open/commit cost also wants fewer, larger stores — the q48/q72
rationale — or whether aggregation parallelism pays for 16.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.1"


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    from fs2_kafka_streams_spark.session import get_spark
    import fs2_kafka_streams_spark.streaming.conf as C

    spark = get_spark(app_name="stream-partitions-probe")
    spark.read.parquet(f"{SF}/region.parquet").count()

    from fs2_kafka_streams_spark.queries.stateful import (
        q36_watermark_late_drop,
    )
    from fs2_kafka_streams_spark.queries.streaming_ext import (
        q33b_tumbling_window_streaming,
        q72_stream_outer_join,
    )

    default = C.STREAM_PERF_CONF["spark.sql.shuffle.partitions"]

    cases = [
        ("q33b", q33b_tumbling_window_streaming, ["16", "8", "4"]),
        ("q36", q36_watermark_late_drop, ["16", "8", "4"]),
        ("q72", q72_stream_outer_join, [None, None]),  # entry pins 8 itself
    ]
    mins: dict[str, float] = {}
    for r in range(reps):
        for name, fn, variants in cases:
            for v in variants:
                if name == "q72" and v is None:
                    # no variant knob exposed; just collect rep volume
                    key = f"{name}@8"
                else:
                    C.STREAM_PERF_CONF["spark.sql.shuffle.partitions"] = v
                    key = f"{name}@{v}"
                try:
                    t0 = time.perf_counter()
                    df = fn(spark, SF)
                    df.write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                finally:
                    # restored even when the run raises: the dict is the
                    # process-wide default every later streaming query pins
                    C.STREAM_PERF_CONF["spark.sql.shuffle.partitions"] = default
                mins[key] = min(mins.get(key, 1e9), dt)
                print(f"rep {r} {key}: {dt:.3f}s (min {mins[key]:.3f})",
                      flush=True)
        spark.catalog.clearCache()
    print("\nmins:", {k: round(v, 3) for k, v in sorted(mins.items())})


if __name__ == "__main__":
    main()
