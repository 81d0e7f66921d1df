"""The benchmark workloads.

Each workload writes its seeded inputs, warms up, then repeats one
operation until the measuring window closes. Every operation's output is
checked against an oracle computed with pandas, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import gen
from observe import busy_ms, progress_start_epoch

N_KEYS = 2000


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory, Spark's own metadata and
    checksum files excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def latest_by_ts(df: pd.DataFrame) -> pd.DataFrame:
    """Latest row per ``user_id`` by ``(ts, event_id)``."""
    return (df.sort_values(["user_id", "ts", "event_id"])
              .groupby("user_id", sort=False).tail(1)
              .set_index("user_id"))


class Workload:
    """One measured operation type. Subclasses define ``generate``,
    ``warm_up`` and ``op``.

    ``OP_SECONDS`` is the nominal length of one operation on a 4-core box.
    A run performs ``round(seconds / OP_SECONDS)`` operations (at least
    one), so both sides of an A/B comparison do the same work on the same
    inputs, however fast each side is."""

    name = ""
    OP_SECONDS: float

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.inputs: dict = {}
        self.samples: list[dict] = []
        self.failures: dict[int, list[str]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        """Write the seeded inputs; needs no Spark session."""

    def fail(self, i: int, why: str) -> None:
        self.failures.setdefault(i, []).append(why)

    def named_metrics(self, rate: float, p50_ms: float) -> dict:
        """This workload's own names for ``items_per_s`` and ``op_p50_ms``,
        as ``{name: (value, unit)}``."""
        raise NotImplementedError

    def layer_metrics(self, spark, jobs: list[dict]) -> dict:
        """Per-layer metrics of the layers this workload enters, for a
        traced run; ``jobs`` are the Spark jobs of the measured region."""
        raise NotImplementedError


def streaming_layers(samples: list[dict]) -> dict:
    """Per-trigger phase medians, state-store figures and sink output from
    the progress of every measured drain."""
    prog = [p for s in samples for p in s["progress"]]
    d = {"streaming.triggers": len(prog)}
    phases = {"queryPlanning": "query_planning_ms", "addBatch": "add_batch_ms",
              "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
              "getBatch": "get_batch_ms"}
    for k, name in phases.items():
        d[f"streaming.{name}"] = statistics.median(
            p["durationMs"].get(k, 0) for p in prog)
    d["streaming.coordination_ms"] = d["op.coordination_ms_p50"] = statistics.median(
        p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
        for p in prog)
    d["sink.files_written"] = statistics.median(s["sink_files"] for s in samples)
    d["sink.bytes_written"] = statistics.median(s["sink_bytes"] for s in samples)
    ops = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
    if not ops:
        return d
    last = [s["progress"][-1]["stateOperators"][0] for s in samples]
    d["state.rows_total"] = statistics.median(o["numRowsTotal"] for o in last)
    d["state.rows_updated"] = statistics.median(o["numRowsUpdated"] for o in ops)
    d["state.instances"] = statistics.median(
        o.get("numStateStoreInstances", 0) for o in ops)
    d["state.memory_used_bytes"] = statistics.median(o["memoryUsedBytes"] for o in last)
    # task sums: each is summed over the trigger's state partitions
    d["state.commit_ms_tasksum"] = statistics.median(o["commitTimeMs"] for o in ops)
    rocks = {"rocksdbCommitFlushLatency": "commit_flush_ms",
             "rocksdbCommitFileSyncLatencyMs": "commit_fsync_ms",
             "rocksdbCommitCheckpointLatency": "commit_checkpoint_ms",
             "rocksdbCommitCompactLatency": "commit_compact_ms",
             "rocksdbChangeLogWriterCommitLatencyMs": "changelog_commit_ms",
             "rocksdbLoadLatencyMs": "load_ms"}
    for k, name in rocks.items():
        d[f"state.rocksdb.{name}_tasksum"] = statistics.median(
            o.get("customMetrics", {}).get(k, 0) for o in ops)
    return d


class ChangelogUpsert(Workload):
    """Replay a keyed changelog with tombstones through
    ``latest_by_key_streaming_with_deletes`` and read the materialized view.
    One operation is one drain of the whole changelog on a fresh checkpoint
    and sink."""

    name = "changelog_upsert"
    OP_SECONDS = 14.0
    N_EVENTS = 8000
    N_FILES = 8  # 2 files per trigger: 4 triggers per drain

    def generate(self):
        log = gen.events(self.seed, self.N_EVENTS, N_KEYS, tombstone_share=0.05,
                         out_of_order_share=0.02)
        gen.write_replay(log, self.path("changelog"), self.N_FILES)
        warm = gen.events(self.seed + 1, 1000, N_KEYS, tombstone_share=0.05,
                          out_of_order_share=0.02)
        gen.write_replay(warm, self.path("warm_changelog"), 2)
        head = latest_by_ts(log)
        head = head[~head["deleted"]]
        self.expected = {
            k: (r.event_id, r.ts.to_pydatetime(), r.event_type, r.value, r.props)
            for k, r in head.iterrows()
        }
        self.inputs = {
            "events": self.N_EVENTS, "files": self.N_FILES,
            "files_per_trigger": 2,
            "tombstones": int(log["deleted"].sum()),
            "out_of_order": int((log["ts"].diff().dt.total_seconds() < 0).sum()),
            "live_keys_expected": len(self.expected),
            **gen.skew_stats(log["user_id"].to_numpy()),
        }

    def _drain(self, spark, replay: str, tag: str):
        from fs2_kafka_streams_spark.streaming.stateful import (
            latest_by_key_streaming_with_deletes,
        )

        ck, sink = self.path(f"ck_{tag}"), self.path(f"sink_{tag}")
        t0 = time.perf_counter()
        with self.tracer.span("streaming.drain", op=tag) as drain:
            view = latest_by_key_streaming_with_deletes(
                spark, replay, checkpoint=ck, sink_dir=sink)
        t1 = time.perf_counter()
        with self.tracer.span("sink.log_head", op=tag):
            rows = view.collect()
        t2 = time.perf_counter()
        return rows, t1 - t0, t2 - t1, drain, sink, ck

    def warm_up(self, spark, progress):
        _, _, _, _, sink, ck = self._drain(spark, self.path("warm_changelog"), "warm")
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)

    def op(self, spark, i, progress):
        before = len(progress.started)
        rows, drain_s, view_s, drain_span, sink, ck = self._drain(
            spark, self.path("changelog"), str(i))
        qid = progress.started[before] if len(progress.started) > before else None
        if qid is None or not progress.wait(
                lambda: qid in progress.terminated, 30):
            self.fail(i, "no termination event for the drain query")
        batches = progress.batches(qid) if qid else []
        add_trigger_spans(self.tracer, drain_span, batches)
        files, size = dir_stats(sink)
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        got = {r["user_id"]: (r["event_id"], r["ts"], r["event_type"],
                              r["value"], r["props"]) for r in rows}
        if len(rows) != len(got) or got != self.expected:
            self.fail(i, f"view differs from oracle ({len(rows)} rows, "
                         f"{len(self.expected)} expected)")
        self.samples.append({
            "items": self.N_EVENTS, "seconds": drain_s + view_s,
            "op_ms": [p["durationMs"]["triggerExecution"] for p in batches],
            "drain_s": drain_s, "view_s": view_s, "progress": batches,
            "sink_files": files, "sink_bytes": size, "span": drain_span,
        })

    def named_metrics(self, rate, p50_ms):
        return {"upsert_events_per_s": (rate, "1/s"),
                "upsert_trigger_p50_s": (p50_ms / 1000, "s")}

    def layer_metrics(self, spark, jobs):
        return {**streaming_layers(self.samples),
                "sink.log_head_s": statistics.median(s["view_s"] for s in self.samples)}


class WireEnrich(Workload):
    """Consume a published wire topic with ``read_wire_stream`` paced by
    ``batch_rows``, decode it through ``DecodeRegistry`` + ``JsonFormat``,
    enrich the clean rows with ``join_with`` against a ``MaterializedTable``
    and append clean and dead-letter rows to parquet sinks. One operation is
    one drain of the topic on a fresh checkpoint, cursor file and sink."""

    name = "wire_enrich"
    OP_SECONDS = 7.0
    N_RECORDS = 8000
    PARTITIONS = gen.PARTITIONS
    BATCH_ROWS = 800  # per partition per trigger: 4 triggers for the hot partition

    def generate(self):
        self.topic = gen.events(self.seed, self.N_RECORDS, N_KEYS,
                                out_of_order_share=0.02, malformed_share=0.01)
        self.warm_topic = gen.events(self.seed + 1, 1000, N_KEYS,
                                     malformed_share=0.01)
        gen.write_topic(self.topic, self.path("broker"), "events")
        gen.write_topic(self.warm_topic, self.path("warm_broker"), "events")
        prof = gen.profiles(self.seed, N_KEYS)
        os.makedirs(self.path("profiles"))
        prof.to_parquet(self.path("profiles", "part-0.parquet"), index=False)
        latest = prof.sort_values(["user_id", "rev"]).groupby("user_id").tail(1)
        side = latest.set_index("user_id")[["tier", "score"]]
        clean = self.topic[self.topic["value"].notna()]
        joined = clean.join(side, on="user_id")
        self.expected = dict(zip(
            joined["event_id"], zip(joined["tier"], joined["score"])))
        self.malformed = int(self.topic["value"].isna().sum())
        load = np.bincount(self.topic["user_id"].to_numpy() % self.PARTITIONS)
        self.expected_triggers = -(-int(load.max()) // self.BATCH_ROWS)
        self.inputs = {
            "records": self.N_RECORDS, "partitions": self.PARTITIONS,
            "batch_rows": self.BATCH_ROWS, "malformed": self.malformed,
            "profile_rows": len(prof),
            **gen.skew_stats(self.topic["user_id"].to_numpy()),
        }

    def _drain(self, spark, broker: str, tag: str, n_records: int, progress):
        from fs2_kafka_streams_spark.operators.table import (
            MaterializedTable,
            join_with,
        )
        from fs2_kafka_streams_spark.sources.decode import (
            DecodeRegistry,
            JsonFormat,
            clean_view,
            dead_letters,
        )
        from fs2_kafka_streams_spark.sources.python_source import (
            VALUE_DDL,
            read_wire_stream,
        )

        ck, sink = self.path(f"ck_{tag}"), self.path(f"sink_{tag}")
        cursor = self.path(f"cursor_{tag}.json")
        if os.path.exists(cursor) or os.path.exists(ck):
            raise RuntimeError("wire drain must start from a fresh cursor and checkpoint")
        tracer = self.tracer
        t0 = time.time()
        with tracer.span("streaming.drain", op=tag) as drain:
            with tracer.span("table.build"):
                table = MaterializedTable(
                    spark.read.parquet(self.path("profiles")), ["user_id"],
                    ["rev"], ["tier", "score"], unique_order=True)
            build_ms = (time.time() - t0) * 1000
            with tracer.span("sources.read_wire_stream"):
                stream = read_wire_stream(
                    spark, "", partitions=self.PARTITIONS,
                    batch_rows=self.BATCH_ROWS, cursor_file=cursor,
                    broker_dir=self.path(broker), topics=["events"])
            with tracer.span("sources.decode"):
                decoded = DecodeRegistry().register(
                    "events", JsonFormat(VALUE_DDL)).decode(stream)

            def sink_batch(batch, epoch):
                batch.persist()
                join_with(clean_view(batch), table).write.mode("append") \
                    .parquet(os.path.join(sink, "enriched"))
                dead_letters(batch).write.mode("append") \
                    .parquet(os.path.join(sink, "dlq"))
                batch.unpersist()

            with tracer.span("streaming.start"):
                q = (decoded.writeStream.foreachBatch(sink_batch)
                     .option("checkpointLocation", ck).start())
            qid = str(q.id)
            done = progress.wait(lambda: progress.rows_seen(qid) >= n_records, 150)
            with tracer.span("streaming.stop"):
                q.stop()
        batches = progress.batches(qid)
        add_trigger_spans(tracer, drain, batches)
        if not done:
            raise RuntimeError(f"drain consumed {progress.rows_seen(qid)} of {n_records} records")
        last = batches[-1]
        end = progress_end(last)
        return t0, end, batches, drain, sink, ck, cursor, build_ms

    def warm_up(self, spark, progress):
        *_, sink, ck, cursor, _ = self._drain(
            spark, "warm_broker", "warm", len(self.warm_topic), progress)
        for p in (sink, ck):
            shutil.rmtree(p, ignore_errors=True)
        os.remove(cursor)

    def op(self, spark, i, progress):
        t0, end, batches, drain_span, sink, ck, cursor, build_ms = self._drain(
            spark, "broker", str(i), self.N_RECORDS, progress)
        files, size = dir_stats(sink)
        enriched = spark.read.parquet(os.path.join(sink, "enriched")) \
            .select("event_id", "tier", "score").collect()
        dlq = spark.read.parquet(os.path.join(sink, "dlq")).count()
        got = {r["event_id"]: (r["tier"], r["score"]) for r in enriched}
        if len(enriched) + dlq != self.N_RECORDS:
            self.fail(i, f"consumed {len(enriched) + dlq} of {self.N_RECORDS} published")
        if dlq != self.malformed:
            self.fail(i, f"{dlq} dead letters, {self.malformed} injected")
        if got != self.expected:
            self.fail(i, "enriched rows differ from oracle")
        if len(batches) != self.expected_triggers:
            self.fail(i, f"{len(batches)} triggers, pacing implies {self.expected_triggers}")
        for p in (sink, ck):
            shutil.rmtree(p, ignore_errors=True)
        os.remove(cursor)
        self.samples.append({
            "items": self.N_RECORDS, "seconds": end - t0,
            "op_ms": [p["durationMs"]["triggerExecution"] for p in batches],
            "progress": batches, "sink_files": files, "sink_bytes": size,
            "span": drain_span, "dlq_rows": dlq, "table_build_ms": build_ms,
        })

    def named_metrics(self, rate, p50_ms):
        return {"wire_records_per_s": (rate, "1/s"),
                "wire_trigger_p50_s": (p50_ms / 1000, "s")}

    def layer_metrics(self, spark, jobs):
        """Streaming and sink figures of the drains, then the source alone:
        batch ``read_wire`` into a noop sink, and ``read_wire`` + decode into
        a noop sink; the difference is the decode cost. Medians of 3."""
        from fs2_kafka_streams_spark.sources.decode import DecodeRegistry, JsonFormat
        from fs2_kafka_streams_spark.sources.python_source import VALUE_DDL, read_wire

        def timed(decode: bool) -> float:
            t0 = time.perf_counter()
            with self.tracer.span("sources.read_wire" + ("+decode" if decode else "")):
                df = read_wire(spark, "", partitions=self.PARTITIONS,
                               broker_dir=self.path("broker"), topics=["events"])
                if decode:
                    df = DecodeRegistry().register("events", JsonFormat(VALUE_DDL)).decode(df)
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        read = statistics.median(timed(False) for _ in range(3))
        both = statistics.median(timed(True) for _ in range(3))
        prog = [p for s in self.samples for p in s["progress"]]
        return {
            **streaming_layers(self.samples),
            "sources.read_wire_s": read, "sources.decode_s": both - read,
            "sources.latest_offset_ms": statistics.median(
                p["durationMs"].get("latestOffset", 0) for p in prog),
            "sources.records_in": sum(p["numInputRows"] for p in prog),
            "sources.dlq_rows": sum(s["dlq_rows"] for s in self.samples),
            "table.build_ms": statistics.median(s["table_build_ms"] for s in self.samples),
        }


def progress_end(p: dict) -> float:
    return progress_start_epoch(p) + p["durationMs"]["triggerExecution"] / 1000


def add_trigger_spans(tracer, drain, batches: list[dict]) -> None:
    """Each data trigger of a drain as a child span of the drain span, with
    its ``durationMs`` phases as attributes."""
    if drain is None:
        return
    for p in batches:
        tracer.add("streaming.trigger", progress_start_epoch(p), progress_end(p),
                   parent=drain["id"], batch=p["batchId"], rows=p["numInputRows"],
                   **{f"{k}_ms": v for k, v in p["durationMs"].items()})


class TableLookup(Workload):
    """A closed loop with one client over a ``MaterializedTable`` built on a
    changelog parquet directory. Requests cycle through two ``get(k)`` of
    keys Zipf-skewed toward hot keys, one ``get`` of an absent key and one
    ``get_all`` of 64 skewed keys with 5% absent. One operation is one
    request."""

    name = "table_lookup"
    OP_SECONDS = 0.7
    N_EVENTS = 6000
    BATCH = 64
    N_WARM = 20

    def generate(self):
        log = gen.events(self.seed, self.N_EVENTS, N_KEYS, tombstone_share=0.05,
                         out_of_order_share=0.02)
        gen.write_replay(log, self.path("changelog"), 6)
        head = latest_by_ts(log)
        self.value_cols = ["event_id", "ts", "event_type", "value", "props", "deleted"]
        self.expected = {
            k: {c: (v.to_pydatetime() if c == "ts" else v) for c, v in zip(
                self.value_cols, r)}
            for k, r in zip(head.index, head[self.value_cols].itertuples(index=False))
        }
        self.keys = gen.lookups(self.seed, 4096, np.array(sorted(self.expected)))
        self.inputs = {
            "changelog_events": self.N_EVENTS, "table_keys": len(self.expected),
            "get_all_keys": self.BATCH,
            "request_keys": gen.skew_stats(self.keys),
            "miss_share": round(float((self.keys < 0).mean()), 4),
        }
        self._cursor = 0

    def _next_keys(self, n: int) -> list[int]:
        ks = [int(self.keys[(self._cursor + j) % len(self.keys)]) for j in range(n)]
        self._cursor += n
        return ks

    def _table(self, spark):
        from fs2_kafka_streams_spark.operators.table import MaterializedTable

        return MaterializedTable(
            spark.read.parquet(self.path("changelog")), ["user_id"],
            ["ts", "event_id"], self.value_cols)

    def _norm(self, d: dict) -> dict:
        return {c: d[c] for c in self.value_cols}

    def warm_up(self, spark, progress):
        """Build the table, then run the request mix on keys outside the
        measured key stream until per-request latency has mostly stopped
        falling with JIT warm-up."""
        with self.tracer.span("table.build"):
            self.table = self._table(spark)
        measured = self.keys
        self.keys = gen.lookups(self.seed + 1, self.N_WARM * self.BATCH,
                                np.array(sorted(self.expected)))
        for i in range(self.N_WARM):
            kind, keys = self._request(i)
            if kind == "get_all":
                self.table.get_all(keys, marker=True).collect()
            else:
                self.table.get(keys[0])
        self.keys, self._cursor = measured, 0

    def _request(self, i: int) -> tuple[str, list[int]]:
        """Request ``i`` of the cycle: two ``get``s of skewed keys, one
        ``get`` of an id no changelog row has, one ``get_all``."""
        slot = i % 4
        if slot == 3:
            return "get_all", self._next_keys(self.BATCH)
        if slot == 2:
            return "get", [-(i + 1)]
        return "get", self._next_keys(1)

    def op(self, spark, i, progress):
        kind, keys = self._request(i)
        with self.tracer.span(f"table.{kind}", op=str(i)) as span:
            t0 = time.perf_counter()
            if kind == "get":
                out = self.table.get(keys[0])
                t1 = t2 = time.perf_counter()
            else:
                df = self.table.get_all(keys, marker=True)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
        if kind == "get":
            want = self.expected.get(keys[0])
            if (out is None) != (want is None) or (out is not None and self._norm(out) != want):
                self.fail(i, f"get({keys[0]}) differs from oracle")
        else:
            got = {r["user_id"]: (self._norm(r.asDict()) if r["_found"] else None)
                   for r in rows}
            want = {k: self.expected.get(k) for k in keys}
            if got != want:
                self.fail(i, "get_all differs from oracle")
        self.samples.append({
            "items": 1, "seconds": t2 - t0, "op_ms": [(t2 - t0) * 1000],
            "kind": kind, "build_ms": (t1 - t0) * 1000,
            "collect_ms": (t2 - t1) * 1000, "span": span, "tag": f"pbop{i}",
        })

    def named_metrics(self, rate, p50_ms):
        gets = [s["op_ms"][0] for s in self.samples if s["kind"] == "get"]
        alls = [s["op_ms"][0] for s in self.samples if s["kind"] == "get_all"]
        return {"get_p50_ms": (statistics.median(gets), "ms"),
                f"get_p95_ms (n={len(gets)})": (float(np.percentile(gets, 95)), "ms"),
                "get_all_p50_ms": (statistics.median(alls), "ms"),
                "requests_per_s": (rate, "1/s")}

    def layer_metrics(self, spark, jobs):
        """``get_all`` split into DataFrame construction and ``collect``,
        and per request the time no Spark job covered, from the jobs that
        carry the request's tag."""
        ga = [s for s in self.samples if s["kind"] == "get_all"]
        return {
            "table.build_ms": statistics.median(s["build_ms"] for s in ga),
            "table.collect_ms": statistics.median(s["collect_ms"] for s in ga),
            "op.coordination_ms_p50": statistics.median(
                s["op_ms"][0] - busy_ms([j for j in jobs if s["tag"] in j["tags"]])
                for s in self.samples),
        }


WORKLOADS = {w.name: w for w in (ChangelogUpsert, WireEnrich, TableLookup)}
