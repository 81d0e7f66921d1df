"""Scoped SQL-conf pinning for streaming queries.

Stateful streaming queries fix their state-store partition count at first
start (it equals ``spark.sql.shuffle.partitions``). The harness queries run
on fresh checkpoints with small-to-moderate key domains, so a lower count
means fewer RocksDB store instances + Python state workers per micro-batch —
at 100 TB with a real cluster the same knob is simply set higher before the
query first starts. Pinning is scoped and restored so batch queries keep the
session default.
"""

from __future__ import annotations

import re
import threading
from collections import Counter
from contextlib import contextmanager

from pyspark.sql import SparkSession

from fs2_kafka_streams_spark.session import default_parallelism

# Streaming state partition count: one state-store instance (and, for the
# Python-stateful CEP and TWS operators, one Python worker) per partition
# and trigger, so no more partitions than the slots that run them — more
# only adds waves of per-instance load/commit/fsync. On a 4-core host, 4
# instead of 16 cut the changelog upsert's trigger p50 from 3.2 s to 2.2 s
# on the applyInPandasWithState engine it then ran, and from 1.7 s to
# 1.1 s on the native max_by aggregation (perfbench changelog_upsert,
# seed 1). Capped at 16, the count measured at sf0.1 on 32 cores (16 vs 4
# halved the CEP query, 13.5 s -> 6.7 s, and was neutral-to-faster for
# SQL-native state). A real cluster sets O(total cores). A stateful
# checkpoint keeps the count it first started with: Spark restores it
# from the offset log on restart.
STREAM_STATE_PARTITIONS = str(min(default_parallelism(), 16))

#: Confs pinned (scoped) around every harness streaming query. RocksDB
#: changelog checkpointing uploads the per-batch CHANGELOG instead of
#: syncing a full store snapshot at every commit — measured at sf0.1:
#: stream-stream outer join 9.5s -> 8.1s, inner 6.6s -> 5.4s per run; the
#: exact production recommendation for high-trigger-rate stateful queries.
#: A no-op (ignored conf) when the session runs the HDFS-backed provider.
STREAM_PERF_CONF = {
    "spark.sql.shuffle.partitions": STREAM_STATE_PARTITIONS,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
    # Skip the get-before-put RocksDB does per state update SOLELY to keep
    # the numTotalStateRows metric exact (the documented write-path knob
    # for update-heavy state). Results are untouched — the metric becomes
    # approximate, nothing else. Measured at sf0.1 (r11): the q48-shape
    # symmetric join wins every interleaved A/B pair, ~10-15% wall
    # (mins 6.72 vs 7.63 s under identical windows); the join writes every
    # input row into 4 stores per partition, so the per-update get was a
    # material fraction of commit time.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": (
        "false"
    ),
}


def duration_us(s: str) -> int:
    """Parse an interval string ("3 days", "2 hours", "10 minutes",
    "1 minute", "30 seconds") into microseconds — the one parser for every
    gap / retention / delay knob in the streaming package (four hand-rolled
    copies had already drifted: some supported hours, none accepted
    singular units). Days (fixed 24 h — these are NTZ wall-clock
    durations, no DST) were added for the DATE-column time_bucket plans,
    where sub-day widths make every bucket a single day anyway."""
    m = re.fullmatch(
        r"\s*(\d+)\s+(day|hour|minute|second)s?\s*", s, flags=re.IGNORECASE
    )
    if not m:
        raise ValueError(
            f"unparseable duration {s!r}: expected '<n> "
            "days|hours|minutes|seconds'"
        )
    mult = {"day": 86400, "hour": 3600, "minute": 60, "second": 1}[
        m.group(2).lower()
    ]
    return int(m.group(1)) * mult * 1_000_000


#: Rolling trace of the conf maps pinned by recent ``pinned_conf`` scopes.
#: Measurement harnesses (bench.py) snapshot its length around each timed
#: entry and record which streaming confs were actually LIVE during that
#: entry's run — so the bench artifact itself proves (e.g.) that RocksDB
#: changelog checkpointing engaged under the driver's invocation path,
#: instead of that being asserted in docs. Control flow never reads it.
PIN_TRACE: list[dict[str, str]] = []
_PIN_TRACE_MAX = 256

#: Monotonic count of every ``pinned_conf`` entry ever appended. Readers
#: must snapshot THIS (not ``len(PIN_TRACE)``) and take the last
#: ``PIN_SEQ - snapshot`` elements — the rolling trim above shifts list
#: indices, so a length-based slice silently goes empty once the session
#: crosses ``_PIN_TRACE_MAX`` total pins.
PIN_SEQ = 0

#: Per thread, the keys that its open ``pinned_conf`` scopes pin (a count
#: per key, for nested scopes). ``streaming/run.py::_drain`` leaves these
#: keys alone, so a caller's scope wins over the drain's own pins.
_OPEN = threading.local()


def open_pins() -> Counter:
    """The keys this thread's open ``pinned_conf`` scopes pin."""
    if not hasattr(_OPEN, "keys"):
        _OPEN.keys = Counter()
    return _OPEN.keys


@contextmanager
def pinned_conf(spark: SparkSession, confs: dict[str, str]):
    global PIN_SEQ
    old: dict[str, str | None] = {}
    held = open_pins()
    held.update(confs.keys())
    try:
        # set inside the try: if a later key raises (static conf, bad
        # value), the finally still restores the keys already pinned —
        # otherwise they'd silently stay set for the session's lifetime
        for k, v in confs.items():
            try:
                old[k] = spark.conf.get(k)
            except Exception:
                old[k] = None
            spark.conf.set(k, v)
        # record AFTER every set succeeded: the trace is the bench
        # artifact's proof of which confs were LIVE during an entry — a
        # set that raised (static conf, bad value) must not be recorded
        # as pinned
        PIN_TRACE.append(dict(confs))
        PIN_SEQ += 1
        del PIN_TRACE[:-_PIN_TRACE_MAX]
        yield
    finally:
        held -= Counter(confs.keys())  # in place; drops keys no scope holds
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
