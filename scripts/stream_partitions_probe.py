#!/usr/bin/env python
"""State-partition-count probe for the SQL-native streaming entries.

Usage: python scripts/stream_partitions_probe.py [reps] [sf_dir]

r11 measured the stream-stream joins best at 8 state partitions and the
Python-stateful entries at 16; the SQL-native window aggregations
(q33b complete-mode, q36 append+watermark) ran at the global 16, now
``conf.STREAM_STATE_PARTITIONS`` (min(cores, 16)).
This probe interleaves each entry at candidate partition counts (min-of-N
per variant, same-window pairing) to decide whether their per-trigger
store open/commit cost also wants fewer, larger stores — the q48/q72
rationale — or whether aggregation parallelism pays for 16. Every rep is
timed by ``bench.run_entry``, which also drops the rep's memory sink.

Both entries pin their own count (q33b 8, q36 4); a variant pins its
count in an outer ``pinned_conf`` scope, whose keys
``streaming/run.py::_drain`` (the one drain every bounded run goes
through) leaves alone. Each entry has one state operator with one
store per partition, so every trigger that opened a store must report
the variant's count as its ``state_instances`` (a trigger with no state
work reports 0); a variant that did not take effect stops the probe
instead of printing a number.
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
    sf = sys.argv[2] if len(sys.argv) > 2 else SF
    from bench import run_entry
    from fs2_kafka_streams_spark.queries import load_all
    from fs2_kafka_streams_spark.session import get_spark
    from fs2_kafka_streams_spark.streaming.conf import pinned_conf

    spark = get_spark(app_name="stream-partitions-probe")
    spark.read.parquet(f"{sf}/region.parquet").count()
    specs = load_all()

    cases = [
        ("q33b_windows_streaming", ["16", "8", "4"]),
        ("q36_watermark_late_drop", ["16", "8", "4"]),
    ]
    mins: dict[str, float] = {}
    for r in range(reps):
        for name, variants in cases:
            for v in variants:
                key = f"{name.split('_')[0]}@{v}"
                with pinned_conf(spark, {"spark.sql.shuffle.partitions": v}):
                    dt, _pinned, runs = run_entry(spark, specs[name], sf)
                seen = {
                    t["state_instances"]
                    for run in runs
                    for t in run["triggers"] or []
                }
                if seen - {0} != {int(v)}:
                    sys.exit(
                        f"{key}: state_instances {sorted(seen)} over "
                        f"{len(runs)} drained runs, not {v}"
                    )
                mins[key] = min(mins.get(key, 1e9), dt)
                print(f"rep {r} {key}: {dt:.3f}s (min {mins[key]:.3f})",
                      flush=True)
    print("\nmins:", {k: round(v, 3) for k, v in sorted(mins.items())})


if __name__ == "__main__":
    main()
