"""Additional REAL streaming queries (beyond q36/q38): stream–table join
and streaming dedup, both run as genuine Structured Streaming queries over
the deterministic file replay and checked against a batch SQL oracle.

- q45: the reference's stream–table enrichment join (A14,
  ``ReadOnlyTableSpec.scala:71-79``): each stream element looks up the
  table's value for its key; misses stay NULL (``Option[V] = None``). In
  Spark this is a stream–static join — stateless, executed per micro-batch
  with the static side broadcast.
- q46: streaming ``dropDuplicates`` keyed on (user_id, event_type): state
  accumulates the seen-key set across micro-batches (the streaming shape of
  Q37). Output = the distinct key set, so the result is deterministic no
  matter which physical row arrives first.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fs2_kafka_streams_spark.catalog import Catalog
from fs2_kafka_streams_spark.queries import query
from fs2_kafka_streams_spark.queries.windows import (
    _SESSION_SQL,
    _TUMBLING_SQL,
    _sessions,
    _tumbling,
)
from fs2_kafka_streams_spark.streaming.replay import replay_dir
from fs2_kafka_streams_spark.streaming.run import _drain, run_to_memory
from fs2_kafka_streams_spark.streaming.stateful import EVENTS_SCHEMA


def _events_stream(
    spark,
    sf_dir,
    files_per_trigger: int = 1,
    time_ordered: bool = False,
    ts_type: str = "timestamp_ntz",
    sentinel_minutes: int | None = None,
    n_files: int | None = None,
):
    kwargs = {"order_col": "ts"} if time_ordered else {}
    if sentinel_minutes:
        kwargs["sentinel_minutes"] = sentinel_minutes
    if n_files:
        kwargs["n_files"] = n_files
    return (
        spark.readStream.schema(EVENTS_SCHEMA.replace("timestamp_ntz", ts_type))
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(replay_dir(sf_dir, "events", **kwargs))
    )


@query(
    "q45_stream_table_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_nationkey, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    tags=("streaming", "join", "core"),
)
def q45_stream_table_join(spark, sf_dir):
    """Stream–table enrichment join as a real streaming query (A14):
    events stream ⟕ broadcast customer table, append mode."""
    src = _events_stream(spark, sf_dir, files_per_trigger=2)
    cust = Catalog(spark, sf_dir).customer.select(
        F.col("c_custkey"), "c_nationkey", "c_mktsegment"
    )
    joined = src.join(
        F.broadcast(cust), src.user_id == cust.c_custkey, "left"
    ).select("event_id", "user_id", "c_nationkey", "c_mktsegment")
    return run_to_memory(spark, joined, "q45_sink")


@query(
    "q33b_windows_streaming",
    oracle=f"""
    SELECT 'tumbling' AS kind, window_start, window_end, user_id, n, sum_value
    FROM ({_TUMBLING_SQL})
    UNION ALL
    SELECT 'session', session_start, session_end, user_id, n_events,
           CAST(NULL AS DOUBLE)
    FROM ({_SESSION_SQL})
    """,
    tags=("streaming", "window", "session"),
)
def q33b_windows_streaming(spark, sf_dir):
    """REAL streaming windowed aggregations in one entry (merge of
    q33b/q35b): tumbling-window and session-window state accumulated
    across micro-batches, each equal to its batch twin in q33 — the
    stream-batch duality check for window state.

    Complete output mode (no watermark, full state) makes each final table
    equal the batch result exactly; session state merges sessions across
    micro-batches. At scale the same plans run in append mode with a
    watermark bounding state; complete mode here isolates the window and
    session-merge logic from watermark-trajectory modeling (that part is
    covered by q36, the append-mode late-drop entry).

    8 state partitions (r12 probe, scripts/stream_partitions_probe.py):
    SQL-native window state pays per-trigger store open/commit per
    partition and has no Python round-trips to spread — tumbling mins
    2.16 s @16 vs 1.69 s @8 (4 loses at 1.87 s); session mins 1.79 s @16
    vs 1.59 s @8 (4 loses: 1.83 s, session-merge parallelism pays here).
    Same fewer-larger-stores rationale as the q48/q72 joins; a real
    cluster sets this higher before first start (conf.py note)."""

    def run(windows, sink):
        src = _events_stream(spark, sf_dir, files_per_trigger=2)
        return run_to_memory(
            spark, windows(src), sink, output_mode="complete",
            extra_conf={"spark.sql.shuffle.partitions": "8"},
        )

    tumb = run(_tumbling, "q33b_sink").select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        "window_end",
        "user_id",
        "n",
        "sum_value",
    )
    sess = run(_sessions, "q35b_sink").select(
        F.lit("session").alias("kind"),
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        "user_id",
        F.col("n_events").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    return tumb.unionAll(sess)


_Q48_ORACLE = """
    -- ts > epoch, STRICT: the engine's watermark floor (see q72's
    -- oracle note) admits join-state rows only ABOVE the initial
    -- 0-watermark — an event at exactly 1970-01-01 00:00:00 is dropped
    -- by the join's late filter while aggregations/dedup admit it
    -- (r11 fuzz seed 6, probed: epoch-exact pair dropped, epoch+1s
    -- pair emitted)
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           a.event_type AS type_a, b.event_type AS type_b
    FROM (SELECT * FROM events
          WHERE ts > TIMESTAMP '1970-01-01 00:00:00') a
    JOIN (SELECT * FROM events
          WHERE ts > TIMESTAMP '1970-01-01 00:00:00') b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND b.ts BETWEEN a.ts - INTERVAL '5 minutes'
                  AND a.ts + INTERVAL '5 minutes'
"""


def _stream_stream_join(spark, sf_dir, watermark: str | None):
    """Self-join on user within ±5 minutes; optionally watermarked.

    Watermarks require TIMESTAMP (not NTZ), so the watermarked variant reads
    ts as session-local instants with the session timezone pinned to UTC
    (the q36 pattern — under a DST zone the naive→instant mapping is
    non-linear, which would bend the ±interval arithmetic relative to the
    wall-clock SQL oracle). The output carries no timestamp columns, so
    nothing needs casting back.
    """
    # 2 files/trigger: still multiple micro-batches (cross-batch join state
    # is the semantic under test) at half the per-batch machinery cost
    ordered = watermark is not None
    ts_type = "timestamp" if watermark is not None else "timestamp_ntz"
    a = _events_stream(
        spark, sf_dir, files_per_trigger=2, time_ordered=ordered,
        ts_type=ts_type,
    )
    b = _events_stream(
        spark, sf_dir, files_per_trigger=2, time_ordered=ordered,
        ts_type=ts_type,
    )
    if watermark is not None:
        a = a.withWatermark("ts", watermark)
        b = b.withWatermark("ts", watermark)
    a, b = a.alias("a"), b.alias("b")
    # The event-id '<' tie-break makes StreamingJoinHelper log a WARN
    # [INTERNAL_ERROR] stack at query start: the helper probes EVERY
    # less-than in the join condition for a state-eviction bound, and an id
    # comparison has no foldable time bound. The warning is harmless (state
    # is still evicted via the time-range bound, asserted by this query's
    # bounded-state posture) and UNAVOIDABLE for a tie-broken self-join:
    # writing the tie-break as a post-join .filter() changes nothing —
    # Catalyst's PushPredicateThroughJoin merges an inner join's filters
    # back into the condition before IncrementalExecution runs the probe.
    # Documented in EXPLAINS.md; q72 (outer) carries the same note, where
    # the ON-clause placement is additionally a semantic requirement.
    joined = a.join(
        b,
        on=[
            F.col("a.user_id") == F.col("b.user_id"),
            F.col("a.event_id") < F.col("b.event_id"),
            F.col("b.ts").between(
                F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"),
                F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"),
            ),
        ],
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    )
    # 8 state partitions for the SQL-native symmetric hash join: its
    # per-trigger cost is store open/commit per partition (no Python
    # worker round-trips to spread), so fewer, larger stores win —
    # measured at sf0.1: q48 6.6→6.3 s, q72 8.8→7.8 s at 8 vs 16, while
    # 32 doubles the cost. Python-stateful entries keep the global 16
    # (8 costs them ~1 s — the Arrow round-trip is per partition-task).
    extra = {"spark.sql.shuffle.partitions": "8"}
    if watermark is not None:
        extra["spark.sql.session.timeZone"] = "UTC"
        # INNER stream-stream join: rows are emitted only when a match
        # arrives in a DATA batch; the engine's final no-data batch exists
        # to flush watermark-unlocked OUTER/timeout state and for an inner
        # join evicts state without emitting anything. Skipping it (r12,
        # VERDICT #3) removes one full trigger of per-batch planning +
        # 4-stores-per-partition commits from the replay — result multiset
        # unchanged (oracle-verified). q72 (outer) KEEPS the default: its
        # null-extended rows are emitted exactly in that final batch.
        extra["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    return run_to_memory(spark, joined, "q48_sink", extra_conf=extra)


@query(
    "q48_stream_stream_join",
    oracle=_Q48_ORACLE,
    tags=("streaming", "join", "watermark"),
)
def q48_stream_stream_join(spark, sf_dir):
    """Stream–stream inner join (self-join on user within ±5 minutes) as a
    real WATERMARKED streaming query — the 100 TB deployment shape:
    ``withWatermark`` on both sides + the event-time range condition bound
    the join state, and Spark evicts rows once the watermark passes
    ``ts + 5 minutes`` (unbounded state was round-1's named scale-killer
    here).

    Correctness contract: replay is time-ordered (contiguous time-range
    files), so with delay (10m) ≥ join range (5m) no on-time match is ever
    evicted before its partner arrives — the emitted multiset equals the
    batch join exactly. The unbounded variant (arrival-order-independent
    but O(stream) state) stays available as
    :func:`stream_stream_join_unbounded` and is equality-tested in the
    suite."""
    return _stream_stream_join(spark, sf_dir, watermark="10 minutes")


def stream_stream_join_unbounded(spark, sf_dir):
    """The no-watermark variant: unbounded join state, exact under any
    arrival order. Test-only — at scale the watermarked q48 is the
    deployment shape."""
    return _stream_stream_join(spark, sf_dir, watermark=None)


def stream_stream_join_bucketed(
    spark, sf_dir, bucket_minutes: int = 5, watermark: str = "10 minutes"
):
    """q48's ±5-minute self-join with the pairing WORK of a hot key
    spread across time buckets — the skew escape hatch the r11 join-skew
    probe motivated (``scripts/join_skew_probe.py``).

    The probe's finding: the symmetric hash join has NO state-store skew
    cliff (state per key = rate × (delay + range), per-partition
    max/mean 1.05 at 4 000 hot events), but a hot key's OUTPUT is
    quadratic (0.375·H² extra pairs, measured exactly) and the plain
    join enumerates ALL of one key's pairs in ONE state partition's
    task — at 1 000 executors that is one straggler and 999 idle cores.
    No salting can remove the pairs (they ARE the answer); what can be
    fixed is WHERE they are enumerated.

    Technique — the streaming twin of the batch bucketed range join
    (q11/q12's interval-bucket trick): join equality on
    ``(user_id, time_bucket)`` with the RIGHT side replicated into its
    three adjacent buckets. For any pair within ±range (range ≤ bucket),
    exactly ONE replica of b lands in a's bucket — no duplicates, no
    misses — so the multiset equals the plain join (pinned in
    tests/test_hostile_streaming.py). A hot key's pairs now hash across
    ``span / bucket`` distinct join keys → that many state partitions /
    tasks. Cost: 3× state and shuffle on the replicated side — the
    standard replication-for-parallelism trade (same as the salted-fold
    operator's salt factor). Use when a hot key's per-trigger pair
    volume serializes a task; the plain q48 shape is otherwise cheaper.

    Reference anchor: the deliberately hot-user fixture this guards
    against is the reference's own test shape
    (``ReadOnlyTableSpec.scala:41-54``)."""
    assert bucket_minutes >= 5, "bucket must be >= the join range (5 min)"
    a = _events_stream(
        spark, sf_dir, files_per_trigger=2, time_ordered=True,
        ts_type="timestamp",
    ).withWatermark("ts", watermark)
    b = _events_stream(
        spark, sf_dir, files_per_trigger=2, time_ordered=True,
        ts_type="timestamp",
    ).withWatermark("ts", watermark)
    bucket_us = bucket_minutes * 60 * 1_000_000
    bk = F.floor(
        F.unix_micros(F.col("ts")) / F.lit(bucket_us)
    ).cast("long")
    a = a.withColumn("bk", bk).alias("a")
    # replicate b into its three adjacent buckets: a pair within ±range
    # has |a.bk - b.bk| <= 1, so replica bk' = b.bk + {-1,0,+1} meets
    # a.bk exactly once
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
        .alias("b")
    )
    joined = a.join(
        b,
        on=[
            F.col("a.user_id") == F.col("b.user_id"),
            F.col("a.bk") == F.col("b.bk"),
            F.col("a.event_id") < F.col("b.event_id"),
            F.col("b.ts").between(
                F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"),
                F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"),
            ),
        ],
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    )
    return run_to_memory(
        spark,
        joined,
        "q48b_sink",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.session.timeZone": "UTC",
        },
    )


def session_window_append(spark, sf_dir, delay: str = "10 minutes"):
    """Watermarked APPEND-mode session windows — the 100 TB deployment shape
    of q33b's session arm (complete mode holds all session state forever;
    append+watermark evicts a session once the watermark passes its end).

    Time-ordered replay + watermark ⇒ no late data, so the emitted rows are
    exactly the batch sessions whose ``session_end`` ≤ the final watermark
    (max event time − delay); still-open sessions near the stream head stay
    withheld (asserted in the suite). ts is read as TIMESTAMP with the
    session timezone pinned UTC (the q36/q48 pattern)."""
    src = _events_stream(
        spark, sf_dir, files_per_trigger=2, time_ordered=True,
        ts_type="timestamp",
    ).withWatermark("ts", delay)
    agg = (
        src.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(
        spark,
        agg,
        "q35c_sink",
        output_mode="append",
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )


@query(
    "q46_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def q46_stream_dedup(spark, sf_dir):
    """Streaming dropDuplicates on (user_id, event_type): the seen-key set
    is streaming state carried across micro-batches; emitting only the key
    columns makes first-arrival nondeterminism irrelevant."""
    src = _events_stream(spark, sf_dir, files_per_trigger=2)
    deduped = src.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    # 4 state partitions (r12 probe): mins 1.59 s @16 / 1.19 @8 / 1.12 @4
    # (1.42×) — the dedup state rows are two small columns and the work
    # per trigger is trivial, so store open/commit dominates outright;
    # see q35b's note for the shared rationale + the scale posture.
    return run_to_memory(
        spark, deduped, "q46_sink",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )


def streaming_ann_topk(spark, sf_dir, k: int = 3, sink=None):
    """Continuous similarity search: a stream of query vectors scored per
    micro-batch against the static embedding corpus (the streaming shape
    of q44 — the EDBT'19 "similarity search for streaming data" pattern,
    Spark-first).

    Execution is ``foreachBatch`` — the standard batch-API-inside-
    micro-batch composition: each trigger's query vectors are broadcast
    against the (unchanging) corpus by the same :func:`operators.
    similarity.cosine_topk` the batch tier uses, so streaming and batch
    answers are IDENTICAL by construction (asserted in
    ``tests/test_streaming_duality.py``).

    ``sink(result_df, epoch_id)`` receives each micro-batch's scored
    top-k DataFrame — a deployment points it at Kafka/parquet/a feature
    store and NOTHING flows through the driver. With ``sink=None`` the
    harness default appends each batch to a parquet spool (an
    executor-side write) and returns the read-back spool, so even the
    harness path keeps the driver holding no row data.
    """
    import tempfile

    from fs2_kafka_streams_spark.operators.similarity import (
        EMB_DIM,
        cosine_topk,
        well_formed_vectors,
    )

    # same well-formed + id-unique contract as the batch family
    # (queries/llm.py _emb): ill-formed corpus vectors would crash the
    # per-batch scorer, and duplicate vec_id rows would diverge from
    # the batch top-k (r11 fuzz). EMB_DIM is the shared constant, not
    # a local copy (r10 advisory)
    corpus = (
        Catalog(spark, sf_dir)
        .embeddings.filter(well_formed_vectors("embedding", EMB_DIM))
        .groupBy("vec_id")
        .agg(F.min("embedding").alias("embedding"))
    )
    qdir = replay_dir(sf_dir, table="embeddings", id_col="vec_id")
    schema = spark.read.parquet(qdir).schema
    stream = (
        spark.readStream.schema(schema)
        # 2 files/trigger (r9 trigger audit): each query vector is scored
        # in exactly ONE batch, so the union of per-batch top-k is
        # batching-insensitive — 2 micro-batches still prove the
        # per-trigger scoring loop at half the checkpoint-commit and
        # spool-write fsync volume of 1-file triggers
        .option("maxFilesPerTrigger", 2)
        .parquet(qdir)
    )
    out_schema = "query_id bigint, neighbor_id bigint, rank int, cos double"
    spool = None
    if sink is None:
        from fs2_kafka_streams_spark.streaming.stateful import _reap_at_exit

        # the returned DataFrame reads the spool lazily, so it must
        # outlive this call — reclaim it at interpreter exit
        spool = tempfile.mkdtemp(prefix="sink_ann_stream_")
        _reap_at_exit(spool)

        def sink(result_df, epoch_id: int) -> None:
            # idempotent per-batch overwrite — re-run of an uncommitted
            # batch lands in the same directory. repartition(1), not
            # coalesce: an epoch's top-k is a few hundred rows, but
            # coalesce would collapse INTO the final top-k merge stage
            # and serialize it; the explicit exchange ships only the
            # tiny result and keeps the spool at one file per epoch
            # instead of one per task (the sink small-files rule,
            # streaming/stateful.py::_run_upsert_sink)
            result_df.repartition(1).write.mode("overwrite").parquet(
                f"{spool}/epoch={epoch_id}"
            )

    # spread the (unchanging) corpus ONCE outside the trigger loop — the
    # width probe's driver-side RPCs and the repartition decision must not
    # repeat per micro-batch
    from fs2_kafka_streams_spark.operators.util import spread as _spread

    corpus = _spread(corpus)

    def score_batch(bdf, epoch_id: int) -> None:
        sink(cosine_topk(corpus, bdf, k=k, spread=False), epoch_id)

    # stateless: pins nothing — 16 shuffle partitions would change the
    # plans inside score_batch
    _drain(spark, stream.writeStream.foreachBatch(score_batch), "ann_stream")
    if spool is None:
        return None
    return (
        spark.read.schema(out_schema)
        .option("basePath", spool)
        .parquet(spool)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


@query(
    "q72_stream_outer_join",
    oracle="""
    -- ts > epoch, STRICT: Spark's initial watermark is 0 ms, so a
    -- pre-1970 OR epoch-exact event time is late-by-construction and
    -- never enters join state (the time-ordered replay serves it in
    -- batch 1, where the 0-watermark drops it; r10 far-date sweep +
    -- r11 fuzz seed 6 for the epoch-exact boundary)
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           a.event_type AS type_a, b.event_type AS type_b
    FROM (SELECT * FROM events
          WHERE ts IS NOT NULL AND user_id IS NOT NULL
            AND ts > TIMESTAMP '1970-01-01 00:00:00') a
    LEFT JOIN (SELECT * FROM events
               WHERE ts IS NOT NULL AND user_id IS NOT NULL
                 AND ts > TIMESTAMP '1970-01-01 00:00:00') b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND b.ts BETWEEN a.ts - INTERVAL '5 minutes'
                  AND a.ts + INTERVAL '5 minutes'
    """,
    tags=("streaming", "join", "watermark", "outer"),
)
def q72_stream_outer_join(spark, sf_dir):
    """LEFT OUTER stream–stream join — the streaming shape of the
    reference's enrichment-with-miss contract (A14: ``Option[V] = None``
    when no match, ``ReadOnlyTableSpec.scala:71-79``) between two live
    streams rather than stream and table: q48's watermarked ±5-minute
    self-join, but every left event is emitted, matched or not.

    The outer-specific mechanics under test: Spark emits a left row's
    NULL result only when the watermark PASSES its join window — on a
    finite replay the watermark stops short of the last events and their
    pending state would never flush. The replay therefore appends a
    watermark SENTINEL row (one synthetic event an hour past the data,
    filtered out of both join inputs after the ``withWatermark`` node —
    watermark tracking sees it, the join never does). With the final
    watermark past every real event, the emitted multiset exactly equals
    the batch LEFT JOIN — matched rows once, unmatched rows once with
    NULLs — hash-checked against the oracle.

    State bound: identical to q48 (watermark + range condition evicts
    rows past ``ts + 5 minutes``); delay (10m) ≥ range (5m) with
    time-ordered replay keeps on-time matches alive until their partner
    arrives, so no false NULLs."""
    joined = outer_join_stream(spark, sf_dir)
    out = run_to_memory(
        spark, joined, "q72_sink",
        # 8 state partitions — same SQL-native join rationale as q48
        extra_conf={
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.shuffle.partitions": "8",
        },
    )
    return out.filter(F.col("user_id") != -1)


def outer_join_stream(spark, sf_dir):
    """The un-sinked LEFT OUTER stream–stream join of q72 (split out so the
    crash-recovery tests can drive it through their own checkpointed sink).
    Output still contains the -1 sentinel lefts; callers filter them."""
    # 1 file/trigger, 2 data files + 1 sentinel (r10 trigger cut): the
    # sentinel batch advances the watermark past every real event and the
    # engine's final NO-DATA batch flushes the outer state that advance
    # unlocked (availableNow always runs it — probed 6/6 and pinned in
    # tests/test_review_r10_fixes.py; r8's second sentinel file was one
    # whole wasted trigger). 2 data files keep cross-batch join state
    # under test; 4 triggers total including the no-data flush.
    a = _events_stream(
        spark, sf_dir, files_per_trigger=1, time_ordered=True,
        ts_type="timestamp", sentinel_minutes=60, n_files=2,
    )
    b = _events_stream(
        spark, sf_dir, files_per_trigger=1, time_ordered=True,
        ts_type="timestamp", sentinel_minutes=60, n_files=2,
    )
    # The sentinel rows are filtered AFTER the join, never before it: a
    # pre-join filter(user_id != -1) doesn't reference the event-time
    # column, so Catalyst pushes it below the EventTimeWatermark node into
    # the scan — and the sentinel then never reaches the watermark
    # statistics it exists to advance. Post-join, sentinel lefts surface
    # (if at all) as -1 ids and drop here; sentinel rights can never
    # satisfy the join condition against real rows (user_id -1 matches
    # only the other sentinel, and -1 < -1 fails the id inequality).
    a = a.withWatermark("ts", "10 minutes")
    b = b.withWatermark("ts", "10 minutes")
    a, b = a.alias("a"), b.alias("b")
    # The event-id tie-break MUST live in the ON clause here: for a LEFT
    # OUTER join the condition decides which left rows null-extend —
    # filtering id_a<id_b after the join would also drop the legitimate
    # unmatched (id_b NULL) rows of lefts whose only candidates failed the
    # tie-break. StreamingJoinHelper logs a WARN [INTERNAL_ERROR] stack
    # while probing this '<' for a state-eviction bound (it treats every
    # less-than as potentially temporal, and an id comparison has no
    # foldable bound); the warning is harmless — state is still evicted
    # via the time-range bound — and documented in EXPLAINS.md.
    return a.join(
        b,
        on=[
            F.col("a.user_id") == F.col("b.user_id"),
            F.col("a.event_id") < F.col("b.event_id"),
            F.col("b.ts").between(
                F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"),
                F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"),
            ),
        ],
        how="left_outer",
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    )
