"""Broker-less Kafka-wire source via the Spark 4 Python DataSource API.

The reference IS a Kafka source library (``client/RecordStream.scala``,
``client/Subscription.scala``); this sandbox has no broker, so the
built-in Kafka connector (``sources/kafka.py``) can only be
option-plumbing-tested. This module closes the gap at the protocol
level: a custom ``DataSource`` that serves parquet tables AS Kafka wire
records — ``key``/``value`` bytes, ``topic``, ``partition``, monotone
per-partition ``offset``, ``timestamp`` — with BOTH a batch reader and a
micro-batch ``DataSourceStreamReader`` whose offset planning and
checkpoint recovery follow the same contract Spark's real Kafka source
implements (A16/A17: ranged offsets per partition, resume from the
committed offset, never re-serve committed records).

Wire shape (mirrors the reference's consumer record,
``client/RecordStream.scala:14-16``, and the sink contract of
``encode_for_kafka``):

- ``partition`` = ``user_id % n_partitions`` — the reference's keyed
  partitioning (same key → same partition → per-key total order);
- ``offset`` = dense ordinal within the partition in publish order
  (global ``(ts, event_id)`` order restricted to the partition) —
  per-partition monotone, globally unordered, exactly Kafka's guarantee;
- ``value`` = deterministic JSON bytes; ``ts`` travels as integer epoch
  microseconds so decoding is timezone-proof and exact (the catalog's
  own NTZ technique);
- ``key`` = the user id as UTF-8 bytes.

Subscription model (A23, reference ``client/Subscription.scala:5-6`` —
``Topics(list)`` | ``Pattern(regex)``; compile+subscribe
``client/ConsumerAlgebra.scala:90-94``):

- single topic: ``path`` + ``topic`` (back-compat);
- topic list: ``broker_dir`` + ``topics`` (comma-separated); every
  ``<name>.parquet`` under ``broker_dir`` is a topic in the simulated
  broker's namespace;
- pattern: ``broker_dir`` + ``topic_pattern`` — a regex full-matched
  against topic names, RE-RESOLVED on every ``latestOffset`` call
  exactly like the consumer's metadata refresh, so a topic file that
  appears mid-query is picked up on the next trigger (the
  assign-on-topic-appearing half of A19's rebalance bookkeeping;
  reference ``applyRebalanceEvents``, ``client/RecordStream.scala:71-108``).

Partition growth (the other rebalance event — Kafka topics can gain
partitions, moving NEW records onto the new layout while produced
records stay put): ``grow_to``/``grow_at`` switch the key→partition
modulus from ``partitions`` to ``grow_to`` for records at global publish
position ≥ ``grow_at``. Per-key ordering across the boundary is NOT
preserved — exactly Kafka's documented caveat — which is why the
materializer folds on data-derived order ``(ts, event_id)``, making the
result invariant under reassignment (asserted against the q17 oracle in
tests/test_python_datasource.py).

Scale notes: partition planning reads ONE column per topic (end offsets
are a modulus bincount — no sort) and is otherwise O(topics ×
partitions) on the driver; the growth SIMULATION additionally ranks the
table by publish order once per topic (cached per file stamp) because
its threshold is a position — a real broker tracks end offsets natively
and pays neither. Row data is only decoded in read tasks. Each task
materializes its
topic's publish-ordered log once and serves slices from a worker-local
LRU (executor Python workers are daemon-reused across micro-batches, so
a multi-batch replay costs one sort, not one per trigger). The stream
reader advances ``batch_rows`` offsets per partition per trigger — the
``maxOffsetsPerTrigger`` backpressure contract (A18).
"""

from __future__ import annotations

import json
import os
import re
from collections import OrderedDict

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp_us bigint"
)

#: from_json schema for the value payload (ts as epoch-µs for exactness)
VALUE_DDL = (
    "event_id bigint, ts_us bigint, user_id bigint, "
    "event_type string, value double, props string"
)


def _file_stamp(path: str) -> tuple[int, int]:
    """(size, mtime_ns) — cache-identity of a topic file, so a parquet
    REWRITTEN at the same path is never served from a stale cache entry."""
    st = os.stat(path)
    return st.st_size, st.st_mtime_ns


def _publish_order(path: str):
    """(ts_us, event_id, user_id, sorted row indices) of the table in
    global publish order — the simulated broker's produce sequence."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # ParquetFile, not read_table, at every topic read: read_table imports
    # pyarrow.dataset, 0.24 s of a fresh source runner's first latestOffset
    t = pq.ParquetFile(path).read(columns=["ts", "event_id", "user_id"])
    ts_us = _ts_us_array(t.column("ts"))
    eid = _key_array(t.column("event_id"))
    uid = _key_array(t.column("user_id"))
    # NULL timestamps (Kafka's NoTimestampType, timestamp = -1 on the wire:
    # a producer may legitimately send none) publish FIRST, deterministically
    # tie-broken by event_id — fill with int64 min for the ORDER only; the
    # record itself carries ts_us = NULL through the wire payload.
    # A NULL event_id (the id lives in the VALUE payload; Kafka itself has
    # no client-supplied id) tie-breaks LAST among equal timestamps —
    # int64 max for the ORDER only — and ties among several NULL ids fall
    # back to file row order (lexsort is stable). Deterministic, total.
    eid_vals, eid_null = eid
    eid_order = np.where(eid_null, np.iinfo(np.int64).max, eid_vals)
    order = np.lexsort((eid_order, _ts_us_order_key(ts_us)))
    return ts_us, eid, uid, order


def _ts_us_array(ts):
    """Arrow timestamp column → int64 epoch-µs as a NULL-preserving masked
    pair ``(values, isnull)``. ``to_numpy`` on a null-bearing int cast falls
    back to float64 + NaN, and ``int(NaN)`` used to crash the read task —
    a null timestamp must flow through the wire in-band, never crash it."""
    import pyarrow as pa

    if pa.types.is_timestamp(ts.type) and ts.type.unit == "ns":
        vals, isnull = _key_array(ts.cast("int64"))
        return vals // 1000, isnull
    return _key_array(ts.cast(pa.timestamp("us")).cast("int64"))


def _ts_us_order_key(ts_us):
    """Publish-order sort key: NULL timestamps sort first (int64 min)."""
    import numpy as np

    vals, isnull = ts_us
    return np.where(isnull, np.iinfo(np.int64).min, vals)


def _key_array(col):
    """Int64 column → NULL-preserving ``(values, isnull)`` pair, NULL slots
    0 — a NULL record key is ordinary Kafka (the default partitioner
    round-robins it), so it must never crash or silently vanish
    (``int(NaN)`` / ``NaN % n`` both did: NaN % n is NaN, which matches NO
    partition id, so every NULL-key record used to drop out of the topic).

    Read from the value and validity buffers: Arrow's ``fill_null`` and
    ``to_numpy`` import pandas on first use, most of a fresh source
    runner's first ``latestOffset``; the buffers do not."""
    import numpy as np
    import pyarrow as pa

    arr = col.combine_chunks().cast(pa.int64())
    n, off = len(arr), arr.offset
    validity, data = arr.buffers()
    vals = np.frombuffer(data, np.int64, n, off * 8)
    if validity is None:
        return vals.copy(), np.zeros(n, bool)
    bits = np.unpackbits(np.frombuffer(validity, np.uint8), bitorder="little")
    isnull = bits[off : off + n] == 0
    return np.where(isnull, 0, vals), isnull


def _partition_key(uid, eid):
    """Per-row partition key in FILE order from the ``(values, isnull)``
    pairs of ``user_id`` and ``event_id``. Keyed records partition on the
    key (Kafka default partitioner); NULL-key records use event_id — the
    deterministic stand-in for Kafka's round-robin/sticky null-key
    assignment; a record with NULL key AND NULL event_id round-robins on
    its file row position (the last deterministic identity it has) —
    total, never NaN % n."""
    import numpy as np

    uid_vals, uid_null = uid
    eid_vals, eid_null = eid
    pos = np.arange(len(uid_vals), dtype="int64")
    return np.where(uid_null, np.where(eid_null, pos, eid_vals), uid_vals)


#: per-process cache of the publish-order partition assignment, shared by
#: ALL of a topic's partition read tasks in a worker (the assignment is a
#: whole-table property; computing it per task would redo the global sort
#: P times). Keyed by file stamp so a rewritten file recomputes.
_ASSIGN_CACHE: OrderedDict[tuple, tuple] = OrderedDict()
_ASSIGN_CACHE_MAX = 8


def _partition_assignment(
    path: str, n_parts: int, grow_to: int, grow_at: int
):
    """Per-row partition ids in publish order.

    Returns (sorted_row_indices, pids_in_publish_order). Records at
    publish position < ``grow_at`` (or all, when ``grow_to`` is 0) use
    ``user_id % n_parts``; later ones use ``user_id % grow_to`` — fixed
    at "produce" time exactly like Kafka partition growth.
    """
    import numpy as np

    key = (
        os.path.abspath(path), _file_stamp(path), n_parts, grow_to, grow_at
    )
    cached = _ASSIGN_CACHE.get(key)
    if cached is not None:
        _ASSIGN_CACHE.move_to_end(key)
        return cached

    _ts, eid, uid, order = _publish_order(path)
    part_key = _partition_key(uid, eid)[order]
    pids = part_key % n_parts
    if grow_to and grow_to != n_parts:
        pos = np.arange(len(order))
        pids = np.where(pos < grow_at, pids, part_key % grow_to)
    out = (order, pids.astype("int64"))
    _ASSIGN_CACHE[key] = out
    while len(_ASSIGN_CACHE) > _ASSIGN_CACHE_MAX:
        _ASSIGN_CACHE.popitem(last=False)
    return out


def _partition_counts(
    path: str, n_parts: int, grow_to: int, grow_at: int
) -> dict[int, int]:
    """End offset (record count) per partition under the assignment.

    Without growth the counts don't depend on publish ORDER, so the
    planner reads the two key columns and bincounts — no sort, keeping
    offset planning O(n) driver-side work. Only the growth
    simulation needs the publish ranking (the threshold is a position)."""
    import numpy as np

    if not grow_to or grow_to == n_parts:
        import pyarrow.parquet as pq

        t = pq.ParquetFile(path).read(columns=["user_id", "event_id"])
        part_key = _partition_key(
            _key_array(t.column("user_id")), _key_array(t.column("event_id"))
        )
        counts = np.bincount(part_key % n_parts, minlength=n_parts)
        return {p: int(counts[p]) for p in range(n_parts)}

    _order, pids = _partition_assignment(path, n_parts, grow_to, grow_at)
    total = max(n_parts, grow_to)
    counts = np.bincount(pids, minlength=total)
    return {p: int(counts[p]) for p in range(total)}


#: worker-local cache of materialized per-partition wire batches, keyed by
#: (path, file stamp, n_parts, grow_to, grow_at, pid, topic). Executor
#: Python workers are daemon-reused across micro-batches, so without this
#: a multi-batch replay re-reads and re-sorts the partition per trigger —
#: O(triggers × rows). The file stamp in the key means a topic file
#: REWRITTEN at the same path (refreshed fixture, re-produced topic) is
#: recomputed, never served stale. Bounded LRU: worst case holds one
#: table copy per distinct partition served by this worker.
_BATCH_CACHE: OrderedDict[tuple, object] = OrderedDict()
_BATCH_CACHE_MAX = 32


def _load_partition_batch(
    path: str,
    n_parts: int,
    pid: int,
    topic: str,
    grow_to: int = 0,
    grow_at: int = 0,
):
    """One topic-partition as an offset-ordered ``pyarrow.RecordBatch`` in
    the wire schema. Runs inside the read task — the driver never touches
    row data — and is returned as ONE Arrow batch because the Python
    DataSource API transfers yielded RecordBatches zero-copy, an order of
    magnitude cheaper than per-row tuple pickling."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = (
        os.path.abspath(path), _file_stamp(path), n_parts, grow_to, grow_at,
        pid, topic,
    )
    cached = _BATCH_CACHE.get(key)
    if cached is not None:
        _BATCH_CACHE.move_to_end(key)
        return cached

    order, pids = _partition_assignment(path, n_parts, grow_to, grow_at)
    mine = order[pids == pid]  # row indices, already in publish order

    t = pq.ParquetFile(path).read()
    ts_vals, ts_null = _ts_us_array(t.column("ts"))

    part = t.take(pa.array(mine))
    eid_all, eid_all_null = _key_array(t.column("event_id"))
    uid_vals, uid_null = _key_array(t.column("user_id"))
    etypes = part.column("event_type").to_pylist()
    vals = part.column("value").to_pylist()
    props_l = part.column("props").to_pylist()
    keys, values, ts_col = [], [], []
    for i, row_idx in enumerate(mine):
        payload = {
            # NULL in-band (the id is value-payload data, not a broker
            # field): json null → decode_wire rebuilds a NULL event_id —
            # the record round-trips, never crashes (r10 NULL-id sweep)
            "event_id": (
                None if eid_all_null[row_idx] else int(eid_all[row_idx])
            ),
            # NULL in-band (Kafka NoTimestampType): json null → decode_wire
            # rebuilds a NULL ts — the record round-trips, never crashes
            "ts_us": None if ts_null[row_idx] else int(ts_vals[row_idx]),
            "user_id": (
                None if uid_null[row_idx] else int(uid_vals[row_idx])
            ),
            "event_type": etypes[i],
            "value": vals[i],
            "props": props_l[i],
        }
        # a NULL user_id is a NULL record KEY — Kafka's unkeyed produce —
        # carried as a genuinely NULL key cell, not the string "None"
        keys.append(
            None if payload["user_id"] is None
            else str(payload["user_id"]).encode()
        )
        values.append(json.dumps(payload, separators=(",", ":")).encode())
        ts_col.append(payload["ts_us"])
    n = len(keys)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(keys, pa.binary()),
            pa.array(values, pa.binary()),
            pa.array([topic] * n, pa.string()),
            pa.array([pid] * n, pa.int32()),
            pa.array(range(n), pa.int64()),
            pa.array(ts_col, pa.int64()),
        ],
        names=["key", "value", "topic", "partition", "offset", "timestamp_us"],
    )
    _BATCH_CACHE[key] = batch
    while len(_BATCH_CACHE) > _BATCH_CACHE_MAX:
        _BATCH_CACHE.popitem(last=False)
    return batch


def _resolve_topics(options) -> dict[str, str]:
    """Subscription → {topic: parquet path} (A23).

    ``broker_dir`` defines the broker's topic namespace (every
    ``<name>.parquet`` file); ``topics`` subscribes an explicit list,
    ``topic_pattern`` a regex full-matched against topic names (the
    reference's ``Subscription.Pattern``). Without ``broker_dir`` the
    single-topic ``path``/``topic`` form applies."""
    broker_dir = options.get("broker_dir")
    if not broker_dir:
        return {options.get("topic", "events"): options["path"]}
    available = {
        fn[: -len(".parquet")]: os.path.join(broker_dir, fn)
        for fn in sorted(os.listdir(broker_dir))
        if fn.endswith(".parquet")
    }
    pattern = options.get("topic_pattern")
    if pattern:
        # zero matches is LEGAL for a pattern subscription (Kafka semantics:
        # the consumer idles until a matching topic appears; our stream
        # reader re-resolves every latestOffset, picking it up then)
        rx = re.compile(pattern)
        names = sorted(n for n in available if rx.fullmatch(n))
    elif options.get("topics"):
        names = [t.strip() for t in options["topics"].split(",") if t.strip()]
        missing = [t for t in names if t not in available]
        if missing:
            raise ValueError(f"unknown topics {missing} in {broker_dir}")
    else:
        raise ValueError("broker_dir requires 'topics' or 'topic_pattern'")
    return {n: available[n] for n in names}


def _growth(options) -> tuple[int, int]:
    return int(options.get("grow_to", "0")), int(options.get("grow_at", "0"))


class _Part(InputPartition):
    def __init__(self, topic, path, pid, start=0, end=None):
        self.topic = topic
        self.path = path
        self.pid = pid
        self.start = start
        self.end = end


class _BatchReader(DataSourceReader):
    def __init__(self, options):
        self.options = options
        self.n_parts = int(options.get("partitions", "4"))
        self.grow_to, self.grow_at = _growth(options)

    def partitions(self):
        out = []
        total = max(self.n_parts, self.grow_to or 0)
        for topic, path in _resolve_topics(self.options).items():
            out.extend(_Part(topic, path, p) for p in range(total))
        return out

    def read(self, part):
        yield _load_partition_batch(
            part.path, self.n_parts, part.pid, part.topic,
            self.grow_to, self.grow_at,
        )


#: default home for simulated-publication cursor files (see
#: ``_StreamReader``): Spark runs the Python stream reader in its own
#: worker process per query run, so the cursor must live on disk to keep
#: the simulated log end MONOTONE across a stop/restart — a real broker's
#: end offset never moves backwards, and an end that regressed below the
#: committed offset would make Spark commit a regressed offset and
#: re-serve committed records.
_CURSOR_HOME = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".cache",
    "publish_cursors",
)


class _StreamReader(DataSourceStreamReader):
    """Micro-batch reader: offsets are ``{topic: {partition: next_offset}}``
    dicts (the Kafka source's own offset shape).

    With ``batch_rows`` unset the whole log is available immediately —
    one catch-up batch, unconditionally restart-safe. Setting
    ``batch_rows`` simulates a LIVE topic: ``latestOffset`` publishes at
    most that many offsets per partition per trigger (the
    ``maxOffsetsPerTrigger`` backpressure shape, A18), so a static table
    replays as a genuine multi-batch stream; after a restart Spark hands
    the committed start offsets back to ``partitions``/``read`` and only
    unserved ranges are read (exactly-once, asserted in
    tests/test_python_datasource.py).

    Rebalance events surface here exactly as in Kafka's source: a topic
    matching ``topic_pattern`` that appears between triggers enters the
    offset map at 0 on the next ``latestOffset`` (assign); partitions
    beyond the pre-growth count enter when ``grow_to``/``grow_at`` put
    records on them. Spark feeds the changed map back through
    ``partitions()`` — reassignment needs no reader-side bookkeeping,
    which is the A19 "n/a by design" claim made executable.
    """

    def __init__(self, options):
        self.options = options
        self.n_parts = int(options.get("partitions", "4"))
        self.grow_to, self.grow_at = _growth(options)
        self.batch_rows = int(options.get("batch_rows", "0"))
        self.cursor_file = options.get("cursor_file")
        if self.batch_rows > 0 and not self.cursor_file:
            import hashlib

            ident = json.dumps(
                {k: options.get(k) for k in sorted(
                    ("path", "topic", "topics", "topic_pattern",
                     "broker_dir", "partitions", "batch_rows",
                     "grow_to", "grow_at")
                ) if options.get(k)},
                sort_keys=True,
            )
            self.cursor_file = os.path.join(
                _CURSOR_HOME,
                hashlib.md5(ident.encode()).hexdigest() + ".json",
            )
        # keyed by (topic, file stamp) so a topic parquet rewritten
        # mid-query replans from the NEW file — offsets planned against a
        # stale count would be silently truncated by Arrow's slice when
        # read() builds batches from the fresh bytes
        self._ends: dict[str, tuple[tuple[int, int], dict[int, int]]] = {}
        # A17 seek: the Kafka source's startingOffsets shape — "earliest"
        # (default) or {"topic": {"partition": offset}} with Kafka's
        # -2=earliest / -1=latest sentinels. Consulted at query start
        # (initialOffset, i.e. when no checkpoint exists) AND at the first
        # sight of a topic/partition absent from the committed offsets /
        # pacing cursor — but only dict-NAMED topics keep their seek on
        # that later assignment; the global strings apply at start only
        # (newly discovered partitions consume from earliest, as in the
        # Kafka source). This is the reference's seek-on-assign from an
        # externally recovered offset (client/RecordStream.scala:194-219,
        # streams/Table.scala:64-95 — restart from the table's own
        # committed offset, not the broker's).
        # A19 REVOCATION: a topic deleted from the broker (or a pattern no
        # longer matched because its topic is gone) mid-query. Kafka's
        # source treats deleted partitions as DATA LOSS — by default the
        # query fails ("partitions are gone ... some data may have been
        # missed"); failOnDataLoss=false logs and continues, the revoked
        # partition's stream ending cleanly at its last served offset.
        # Mirror that option shape. The reference's consumer handles the
        # same event as Rebalance.Revoke (client/commands.scala:29-35),
        # completing the revoked partition's stream at EOF
        # (client/RecordStream.scala:71-108) with committed state intact.
        fodl = options.get("failondataloss", options.get("failOnDataLoss"))
        self.fail_on_data_loss = (
            str(fodl).strip().lower() != "false" if fodl is not None else True
        )
        raw = options.get("startingoffsets", options.get("startingOffsets"))
        self.starting: dict | str | None = None
        # Kafka accepts the named positions case-insensitively
        named = str(raw).strip().lower() if raw is not None else None
        if raw and named != "earliest":
            if named == "latest":
                self.starting = "latest"
            else:
                try:
                    parsed = json.loads(raw)
                except ValueError as e:
                    raise ValueError(
                        "startingOffsets must be 'earliest', 'latest', or a "
                        '{"topic": {"partition": offset}} JSON object; got '
                        f"{raw!r}"
                    ) from e
                if not isinstance(parsed, dict):
                    raise ValueError(
                        "startingOffsets must be 'earliest', 'latest', or a "
                        '{"topic": {"partition": offset}} JSON object'
                    )
                self.starting = parsed

    # -- simulated broker metadata ---------------------------------------
    def _topic_paths(self) -> dict[str, str]:
        return _resolve_topics(self.options)

    def _end_offsets(self, topic: str, path: str) -> dict[int, int]:
        stamp = _file_stamp(path)
        hit = self._ends.get(topic)
        if hit is None or hit[0] != stamp:
            # one LIVE entry per topic, replaced when the file stamp moves
            # — keying by (topic, stamp) without eviction grew without
            # bound on a long-running query over re-published topics
            hit = (stamp, _partition_counts(
                path, self.n_parts, self.grow_to, self.grow_at
            ))
            self._ends[topic] = hit
        return hit[1]

    # -- cursor (simulated publication point) ----------------------------
    def _load_cursor(self) -> dict:
        try:
            with open(self.cursor_file) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def _save_cursor(self, cur: dict) -> None:
        # dirname is '' for a bare relative filename — makedirs('') raises
        os.makedirs(os.path.dirname(self.cursor_file) or ".", exist_ok=True)
        tmp = self.cursor_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cur, fh)
        os.replace(tmp, self.cursor_file)

    def _resolved_starts(self, topic: str, ends: dict[int, int]) -> dict[str, int]:
        """The seek point per partition under ``startingOffsets``: named
        positions and Kafka's -2/-1 sentinels resolved against the current
        end offsets, out-of-range values clamped (Kafka would apply
        ``auto.offset.reset``; a deterministic replay source just snaps to
        the nearest end)."""
        if self.starting == "latest":
            return {str(p): ends[p] for p in ends}
        tmap = (self.starting or {}).get(topic, {})
        starts = {}
        for p in ends:
            o = int(tmap.get(str(p), 0))
            if o == -2:  # Kafka sentinel: earliest
                o = 0
            elif o == -1:  # Kafka sentinel: latest
                o = ends[p]
            starts[str(p)] = max(0, min(o, ends[p]))
        return starts

    def _pacing_floor(
        self, topic: str, ends: dict[int, int], fresh: bool
    ) -> dict[str, int]:
        """Where the pacing cursor STARTS for partitions it has never seen:
        the startingOffsets policy, applied exactly once per partition.
        Dict-named topics resolve their seek (sentinels against current
        ends) whenever first sighted; the global "latest" string skips the
        backlog only when the whole cursor is fresh (query start) — a
        topic appearing mid-query is a newly discovered assignment and
        paces its full backlog from 0, mirroring ``partitions()``."""
        if isinstance(self.starting, dict):
            return self._resolved_starts(topic, ends)
        if self.starting == "latest" and fresh:
            return {str(p): ends[p] for p in ends}
        return {str(p): 0 for p in ends}

    # -- DataSourceStreamReader contract ---------------------------------
    def initialOffset(self):
        return {
            topic: self._resolved_starts(topic, self._end_offsets(topic, path))
            for topic, path in self._topic_paths().items()
        }

    def latestOffset(self):
        # re-resolve the subscription every trigger — pattern topics that
        # appeared since the last call are assigned here, from offset 0
        out = {}
        cur = self._load_cursor() if self.batch_rows > 0 else None
        for topic, path in self._topic_paths().items():
            ends = self._end_offsets(topic, path)
            if self.batch_rows <= 0:
                out[topic] = {str(p): ends[p] for p in ends}
            else:
                # the publication cursor starts AT the seek point, never
                # below it: a recovered offset implies the broker had
                # already published that far, and a cursor below the
                # committed start would make Spark plan (start > end)
                # ranges — or worse, commit a paced end BELOW the seek and
                # re-serve the very records the seek skips. The seek
                # resolves ONCE, at a partition's FIRST SIGHT by the
                # cursor; after that the cursor itself carries the
                # position (re-resolving every trigger chased the current
                # ends under global "latest", planning a mid-query topic's
                # whole backlog into one unbounded batch — the A18 pacing
                # bypass this first-sight rule fixes)
                tc = cur.get(topic, {})
                if not isinstance(tc, dict):  # hostile cursor shape (r11)
                    tc = {}
                floors = None
                npmap = {}
                for p in ends:
                    sp = str(p)
                    base = tc.get(sp)
                    # hostile-cursor hardening (r11): the cursor file is
                    # plain JSON on disk — a hand-edited/corrupted entry
                    # (non-numeric, negative, or beyond the log end) used
                    # to crash int() or plan nonsense ranges. Non-numeric
                    # → re-floor as if unseen; numeric → clamp into
                    # [0, end]. Exactly-once is unaffected either way:
                    # partitions() plans from Spark's COMMITTED starts,
                    # so a regressed cursor only wastes triggers and a
                    # runaway one only ends pacing early.
                    if base is not None:
                        try:
                            base = max(0, min(int(base), ends[p]))
                        except (TypeError, ValueError):
                            base = None
                    if base is None:
                        if floors is None:
                            floors = self._pacing_floor(topic, ends, not cur)
                        base = floors[sp]
                    npmap[sp] = min(int(base) + self.batch_rows, ends[p])
                out[topic] = npmap
        if cur is not None:
            self._save_cursor(out)
        return out

    def partitions(self, start, end):
        paths = self._topic_paths()
        # revocation check: a topic we hold committed offsets for (start)
        # that the broker no longer has (absent from both the current
        # subscription resolution AND the batch's end map) was deleted
        # mid-query / between restarts
        revoked = [
            t for t in start
            if t not in end and t not in paths
        ]
        if revoked and self.fail_on_data_loss:
            raise RuntimeError(
                f"topic(s) {sorted(revoked)} with committed offsets "
                f"{ {t: start[t] for t in sorted(revoked)} } are gone — "
                "some data may have been missed. The topic was deleted "
                "(or republished under a non-matching name) mid-query; "
                "set failOnDataLoss=false to end the revoked partitions' "
                "streams cleanly at their last served offsets instead "
                "(committed results are unaffected either way)"
            )
        out = []
        for topic, pmap in end.items():
            spmap = start.get(topic, {})
            # partition-level revocation (r11 hostile-wire sweep): the
            # `partitions` option shrinking between restarts leaves
            # committed offsets for partition ids the new layout no longer
            # serves — the records beyond them were being dropped
            # SILENTLY (measured: 30 of 40 rows delivered across a 4→2
            # restart). Kafka cannot shrink a topic, so a smaller layout
            # is a rewritten broker = data loss, the same class as the
            # topic-level check above (reference Revoke,
            # client/commands.scala:29-35). failOnDataLoss=false ends the
            # vanished partitions' streams cleanly at their committed
            # offsets, like the topic-level path.
            lost = [p for p in spmap if p not in pmap]
            if lost and topic in paths and self.fail_on_data_loss:
                raise RuntimeError(
                    f"partition(s) {sorted(int(p) for p in lost)} of "
                    f"topic {topic!r} with committed offsets "
                    f"{ {p: spmap[p] for p in sorted(lost)} } are gone — "
                    "some data may have been missed. The partition layout "
                    "shrank between restarts (a real broker cannot shrink "
                    "a topic; re-create the query against the new layout, "
                    "or set failOnDataLoss=false to end the vanished "
                    "partitions' streams cleanly at their last served "
                    "offsets)"
                )
            # a topic/partition ABSENT from the committed start (it appeared
            # mid-query via pattern subscription) begins at its RESOLVED
            # seek point when the topic is EXPLICITLY named in the dict form
            # of startingOffsets — a seeked topic must never re-serve the
            # records the seek skips, whichever trigger first assigns it.
            # The global "earliest"/"latest" strings apply at query START
            # only: Kafka consumes newly discovered partitions from
            # earliest, so an unnamed new topic serves its whole backlog
            # from 0 (resolving global "latest" here would silently drop it)
            named = isinstance(self.starting, dict) and topic in self.starting
            defaults = None
            for p, hi in pmap.items():
                lo = spmap.get(p)
                if lo is None:
                    if named and topic in paths:
                        if defaults is None:
                            defaults = self._resolved_starts(
                                topic, self._end_offsets(topic, paths[topic])
                            )
                        lo = defaults.get(p, 0)
                    else:
                        lo = 0
                lo = int(lo)
                if hi > lo and topic in paths:
                    out.append(_Part(topic, paths[topic], int(p), lo, hi))
        return out

    def read(self, part):
        batch = _load_partition_batch(
            part.path, self.n_parts, part.pid, part.topic,
            self.grow_to, self.grow_at,
        )
        if batch.num_rows < part.end:
            # Offsets were planned on the driver against one file stamp;
            # the task reads whatever file exists NOW. An append-only
            # publish (publish_topic) keeps the planned prefix valid, but
            # a destructive rewrite that SHRANK the log would otherwise be
            # silently truncated by Arrow's clamping slice while Spark
            # commits the planned end — records lost without error. A real
            # broker surfaces this as OffsetOutOfRange; fail the same way.
            raise RuntimeError(
                f"offset out of range: topic {part.topic!r} partition "
                f"{part.pid} planned end {part.end} but the log now holds "
                f"{batch.num_rows} records — topic file rewritten "
                "destructively mid-query (only append-only republish is "
                "supported while a stream is running)"
            )
        yield batch.slice(part.start, part.end - part.start)

    def commit(self, end):
        pass


class KafkaReplaySource(DataSource):
    """``spark.read.format("kafka_replay")`` after registration via
    ``spark.dataSource.register(KafkaReplaySource)``."""

    @classmethod
    def name(cls):
        return "kafka_replay"

    def schema(self):
        return WIRE_SCHEMA

    def reader(self, schema):
        return _BatchReader(self.options)

    def streamReader(self, schema):
        return _StreamReader(self.options)


def _subscribe(
    reader, sf_dir, table, partitions, broker_dir, topics, topic_pattern,
    grow_to, grow_at,
):
    """The ``kafka_replay`` options shared by :func:`read_wire` and
    :func:`read_wire_stream`: partition count, subscription (one ``table``
    under ``sf_dir``, or ``broker_dir`` with a ``topic_pattern`` or a
    ``topics`` list) and the partition-growth simulation."""
    rd = reader.format("kafka_replay").option("partitions", str(partitions))
    if broker_dir:
        rd = rd.option("broker_dir", broker_dir)
        if topic_pattern:
            rd = rd.option("topic_pattern", topic_pattern)
        elif topics:
            rd = rd.option("topics", ",".join(topics))
    else:
        rd = rd.option(
            "path", os.path.join(sf_dir, f"{table}.parquet")
        ).option("topic", table)
    if grow_to:
        rd = rd.option("grow_to", str(grow_to)).option("grow_at", str(grow_at))
    return rd


def read_wire(
    spark,
    sf_dir: str,
    table: str = "events",
    partitions: int = 4,
    broker_dir: str | None = None,
    topics: list[str] | None = None,
    topic_pattern: str | None = None,
    grow_to: int = 0,
    grow_at: int = 0,
):
    """Batch-read through the wire-shape source — the whole log(s) as one
    DataFrame. Supports the same subscription forms and partition-growth
    simulation as :func:`read_wire_stream` (a batch backfill over the same
    topic set a streaming job subscribes to)."""
    spark.dataSource.register(KafkaReplaySource)
    return _subscribe(
        spark.read, sf_dir, table, partitions, broker_dir, topics,
        topic_pattern, grow_to, grow_at,
    ).load()


def read_wire_stream(
    spark,
    sf_dir: str,
    table: str = "events",
    partitions: int = 4,
    batch_rows: int = 0,
    cursor_file: str | None = None,
    broker_dir: str | None = None,
    topics: list[str] | None = None,
    topic_pattern: str | None = None,
    grow_to: int = 0,
    grow_at: int = 0,
    starting_offsets: dict | str | None = None,
    fail_on_data_loss: bool | None = None,
):
    """Micro-batch stream of the wire records.

    ``fail_on_data_loss`` (default True, Kafka's own option shape): a
    subscribed topic DELETED mid-query (rebalance REVOKE,
    ``client/commands.scala:29-35``) fails the query loudly; False ends
    the revoked partitions' streams cleanly at their last served offsets
    (EOF-completion, ``client/RecordStream.scala:71-108``) while other
    topics continue exactly-once.

    ``batch_rows=0`` serves the whole log in one catch-up batch (always
    restart-safe); ``batch_rows>0`` simulates a live topic publishing that
    many offsets per partition per trigger, with the publication cursor
    persisted at ``cursor_file`` (auto-derived if unset) so the simulated
    log end stays monotone across query restarts.

    Subscription: default single ``table`` under ``sf_dir``; or
    ``broker_dir`` with an explicit ``topics`` list or a
    ``topic_pattern`` regex (re-resolved every trigger — Kafka pattern
    subscription). ``grow_to``/``grow_at`` simulate partition growth at a
    publish position (see module docstring).

    ``starting_offsets`` (A17 seek): "earliest" (default), "latest", or a
    ``{topic: {partition: next_offset}}`` dict — the Kafka source's own
    ``startingOffsets`` shape, honored when no checkpoint exists AND at
    the first assignment of any topic/partition ABSENT from the committed
    offsets (a pattern-matched topic appearing mid-query): the seek is
    applied on assignment, like the reference's consumer-side seek in its
    rebalance listener (``client/RecordStream.scala:194-219``), not only
    at query start. This is the reference's restart loop
    (``streams/Table.scala:64-95``): recover the last committed offset
    from the SINK/table, then start a fresh query seeking there, without
    the old checkpoint.
    """
    spark.dataSource.register(KafkaReplaySource)
    rd = _subscribe(
        spark.readStream, sf_dir, table, partitions, broker_dir, topics,
        topic_pattern, grow_to, grow_at,
    ).option("batch_rows", str(batch_rows))
    if cursor_file:
        rd = rd.option("cursor_file", cursor_file)
    if fail_on_data_loss is not None:
        rd = rd.option("failOnDataLoss", str(bool(fail_on_data_loss)).lower())
    if starting_offsets is not None:
        if isinstance(starting_offsets, str):
            rd = rd.option("startingOffsets", starting_offsets)
        else:
            rd = rd.option(
                "startingOffsets",
                json.dumps(
                    {
                        t: {str(p): int(o) for p, o in pm.items()}
                        for t, pm in starting_offsets.items()
                    }
                ),
            )
    return rd.load()


def publish_topic(df, broker_dir: str, topic: str) -> str:
    """Produce an events-schema DataFrame into the simulated broker's
    namespace as ``<broker_dir>/<topic>.parquet`` — the producer half of
    the wire loop (``Producer.produce``, ``client/Producer.scala:22-35``),
    so publish → subscribe (``read_wire``/``read_wire_stream``, list or
    pattern) → decode closes produce/consume end-to-end without a broker.

    Timestamps are written at µs precision (the wire source's publish-order
    contract); a topic ALREADY present is overwritten atomically — a
    re-produced topic — which the source's file-stamped caches pick up
    (tests/test_wire_rebalance.py covers mid-stream appearance). The write
    funnels through the driver (``toPandas``) because a simulated topic is
    one file by construction — a real deployment produces through the
    Kafka sink (``sources/kafka.py``), not through this helper."""
    os.makedirs(broker_dir, exist_ok=True)
    pdf = df.toPandas()
    if "ts" in pdf.columns:
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    final = os.path.join(broker_dir, f"{topic}.parquet")
    tmp = final + ".producing"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, final)
    return final


def recover_offsets(consumed) -> dict[str, dict[str, int]]:
    """Next-offsets from already-materialized wire records — the
    user-supplied recovery function of the reference's restart loop
    (``recoverOffsets``, ``client/RecordStream.scala:194-219``: on assign,
    ask the TABLE where it left off and seek there;
    ``Table.lastCommittedOffset``, ``streams/Table.scala:28,67-68``).

    ``consumed`` is any DataFrame carrying ``topic``/``partition``/
    ``offset`` columns (a sink log, the materialized table, a batch
    read-back). Returns ``{topic: {partition: max_offset + 1}}`` — feed it
    straight to ``read_wire_stream(starting_offsets=...)`` to restart
    WITHOUT the old checkpoint. One tiny aggregation (O(topics ×
    partitions) result), executed distributed."""
    from pyspark.sql import functions as F

    out: dict[str, dict[str, int]] = {}
    for r in (
        consumed.groupBy("topic", "partition")
        .agg(F.max("offset").alias("mx"))
        .collect()
    ):
        out.setdefault(r["topic"], {})[str(r["partition"])] = int(r["mx"]) + 1
    return out


def decode_wire(df):
    """Wire records → typed event rows (the A3 decode path on our own
    source): parse the JSON value, rebuild the exact NTZ timestamp from
    epoch-µs, keep the wire metadata columns."""
    from pyspark.sql import functions as F

    parsed = df.select(
        "topic",
        "partition",
        "offset",
        F.from_json(F.col("value").cast("string"), VALUE_DDL).alias("r"),
    )
    return parsed.select(
        "topic",
        "partition",
        "offset",
        F.col("r.event_id").alias("event_id"),
        F.expr(
            "timestampadd(MICROSECOND, r.ts_us, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("ts"),
        F.col("r.user_id").alias("user_id"),
        F.col("r.event_type").alias("event_type"),
        F.col("r.value").alias("value"),
        F.col("r.props").alias("props"),
    )
