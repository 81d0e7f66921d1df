"""Empirical scale evidence for the heavy dedup/ANN operators.

The plan guards (tests/test_plan_properties.py, tests/test_scale_joins.py)
prove the SHAPES are bucketed equi-joins; this script measures the actual
scaling BEHAVIOR on synthetic corpora generated at multiple sizes from the
same seeded distribution:

- ``minhash_lsh_pairs``: verified near-dup pair count must grow ~linearly
  (planted duplicate structure is linear in corpus size; an all-pairs
  blowup would grow quadratically);
- ``connected_components``: propagation round count must stay FLAT
  (O(log diameter), independent of corpus size);
- ``embedding_neardup_pairs_lsh``: candidate/verified pair counts grow
  ~linearly under banded hyperplane LSH;
- ``boilerplate_report``: wall time ~linear (one DF aggregation, no
  pair join).

Usage::

    python scripts/scale_run.py [--scales 1,10] [--out /tmp/scale_corpus]

Results print as a markdown table to paste into SCALE.md. Generation is
seeded and deterministic; corpora are cached under --out per (kind, n).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_DOCS = 5_000       # = sf0.1 documents rows
BASE_VECS = 2_000       # = sf0.1 embeddings rows
VOCAB = 2_000
DIM = 64
NEAR_DUP_FRAC = 0.15    # planted near-duplicate fraction (linear structure)
N_CLUSTERS = 50


def gen_documents(path: str, n: int, seed: int = 7) -> None:
    """Seeded synthetic corpus: Zipf-ish vocabulary (shingles repeat across
    documents like real text) + NEAR_DUP_FRAC planted near-duplicates
    (~5% token mutations of an original doc). Vectorized — one token draw
    for all originals, one for all mutations — so 100× corpora generate in
    seconds, not minutes."""
    if os.path.exists(path):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    probs = 1.0 / np.arange(1, VOCAB + 1) ** 0.9
    probs /= probs.sum()
    words = np.array([f"w{i:04d}" for i in range(VOCAB)])

    is_dup = rng.rand(n) < NEAR_DUP_FRAC
    is_dup[0] = False
    orig_idx = np.flatnonzero(~is_dup)
    # originals: one big token draw, sliced by per-doc length
    lengths = rng.randint(40, 200, size=len(orig_idx))
    flat = rng.choice(VOCAB, size=int(lengths.sum()), p=probs)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    texts: list[str | None] = [None] * n
    for j, i in enumerate(orig_idx):
        texts[i] = " ".join(words[flat[offsets[j] : offsets[j + 1]]])
    # near-dups: mutate ~5% of a random ORIGINAL's tokens (clusters form
    # when several dups pick the same base)
    dup_idx = np.flatnonzero(is_dup)
    bases = orig_idx[rng.randint(0, len(orig_idx), size=len(dup_idx))]
    mut_flat = rng.choice(VOCAB, size=10 * len(dup_idx) + 1, p=probs)
    mp = 0
    for i, b in zip(dup_idx, bases):
        toks = np.array(texts[b].split(), dtype=object)
        n_mut = max(1, int(0.05 * len(toks)))
        pos = rng.choice(len(toks), size=n_mut, replace=False)
        take = mut_flat[mp : mp + n_mut]
        if len(take) < n_mut:  # refill if the mutation pool ran dry
            mut_flat = rng.choice(VOCAB, size=10 * len(dup_idx) + 1, p=probs)
            mp = 0
            take = mut_flat[:n_mut]
        mp += n_mut
        toks[pos] = words[take]
        texts[i] = " ".join(toks.tolist())
    t = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(t, path)


def gen_embeddings(path: str, n: int, seed: int = 11) -> None:
    """Clustered unit vectors + NEAR_DUP_FRAC tiny-perturbation near-dups
    of earlier ORIGINAL vectors. Vectorized."""
    if os.path.exists(path):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    centers = rng.randn(N_CLUSTERS, DIM)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    is_dup = rng.rand(n) < NEAR_DUP_FRAC
    is_dup[0] = False
    vecs = np.empty((n, DIM), dtype=np.float64)
    orig_idx = np.flatnonzero(~is_dup)
    vecs[orig_idx] = (
        centers[rng.randint(0, N_CLUSTERS, size=len(orig_idx))]
        + 0.25 * rng.randn(len(orig_idx), DIM)
    )
    dup_idx = np.flatnonzero(is_dup)
    bases = orig_idx[rng.randint(0, len(orig_idx), size=len(dup_idx))]
    vecs[dup_idx] = vecs[bases] + 0.02 * rng.randn(len(dup_idx), DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    t = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(t, path)


BASE_EVENTS = 60_000    # = sf0.1 events rows
BASE_KEYS = 1_500       # = sf0.1 distinct user_ids


def gen_events(
    path: str, n: int, n_keys: int, seed: int = 13, hot_frac: float = 0.0
) -> None:
    """Seeded synthetic changelog in the events schema: increasing ts
    (publish order), keys uniform over ``n_keys``, types weighted like the
    fixture (view-heavy so CEP has bases).

    ``hot_frac`` > 0 plants ONE hot key: that fraction of all events lands
    on user_id 0 (the reference's own fixture is deliberately skewed onto a
    handful of users, ``ReadOnlyTableSpec.scala:41-54``; a real changelog is
    Zipfian). The rest stays uniform over the remaining keys."""
    if os.path.exists(path):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    base_us = 1_700_000_000_000_000
    ts_us = base_us + np.cumsum(rng.randint(1, 2_000, size=n).astype("int64"))
    types = rng.choice(
        np.array(["view", "click", "purchase", "error"], dtype=object),
        size=n,
        p=[0.5, 0.3, 0.1, 0.1],
    )
    user_id = rng.randint(0, n_keys, size=n).astype("int64")
    if hot_frac > 0.0:
        user_id[rng.rand(n) < hot_frac] = 0
    t = pa.table(
        {
            "event_id": pa.array(range(1, n + 1), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(rng.rand(n), pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(t, path)


def _events_dir(out: str, n: int, n_keys: int, hot_frac: float = 0.0) -> str:
    """sf-style directory holding one seeded events.parquet (cached)."""
    suffix = f"_h{int(hot_frac * 100)}" if hot_frac else ""
    sf_like = os.path.join(out, f"evdir_{n}_k{n_keys}{suffix}")
    os.makedirs(sf_like, exist_ok=True)
    gen_events(
        os.path.join(sf_like, "events.parquet"), n, n_keys, hot_frac=hot_frac
    )
    return sf_like


def _events_replay(
    out: str, n: int, n_keys: int, n_files: int, hot_frac: float = 0.0
) -> str:
    """Generate the seeded changelog into its own sf-style directory and
    chunk it with the harness's OWN replay machinery (`replay_dir`: ordered
    mtimes, contiguous-ts chunks, source-stamped cache) — one replay
    implementation, one cache-invalidation rule."""
    from fs2_kafka_streams_spark.streaming.replay import replay_dir

    sf_like = _events_dir(out, n, n_keys, hot_frac=hot_frac)
    return replay_dir(
        sf_like, "events", n_files=n_files, order_col="ts",
        cache_root=os.path.join(out, "replay_cache"),
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def run_streaming_section(spark, out: str, scales: list[int]) -> list[dict]:
    """Measured streaming scale evidence: replay scaled changelogs through
    latest-by-key and the CEP funnel, recording per-trigger wall time and
    the state store's own row/byte counters from StreamingQueryProgress.

    The O(keys) claim under test: state rows == distinct keys at every
    event-volume scale (events grow 10×, keys fixed → state FLAT), and
    state rows track keys when keys grow (keys 10× at fixed events →
    state ×10). Per-trigger time may grow with batch volume — that is
    throughput, not state."""
    import shutil
    import tempfile

    from fs2_kafka_streams_spark.streaming import cep, stateful
    from fs2_kafka_streams_spark.streaming.conf import (
        STREAM_PERF_CONF,
        pinned_conf,
    )
    from fs2_kafka_streams_spark.streaming.run import RUN_TRACE, _drain

    n_files = 8

    def drive(updates_builder, replay, tag, output_mode="update"):
        ckpt = tempfile.mkdtemp(prefix=f"scale_stream_{tag}_")
        src = (
            spark.readStream.schema(stateful.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        writer = (
            updates_builder(src).writeStream.outputMode(output_mode)
            # noop write, not count(): count() materializes only what the
            # count needs, silently excluding output serialization from
            # the per-trigger times — the bench's noop-sink methodology
            # includes it, and these numbers are compared against the
            # bench's
            .foreachBatch(
                lambda bdf, bid: bdf.write.format("noop")
                .mode("overwrite").save()
            )
        )
        # state rows are what this section measures: count them, which
        # STREAM_PERF_CONF turns off to save a RocksDB get per update
        t0 = time.time()
        track_rows = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
        with pinned_conf(spark, {track_rows: "true"}):
            _drain(spark, writer, f"scale_{tag}", STREAM_PERF_CONF, ckpt)
        wall = time.time() - t0
        triggers = RUN_TRACE[-1]["triggers"]
        trig_ms = [t["durationMs"].get("triggerExecution", 0) for t in triggers]
        state_bytes = _dir_bytes(os.path.join(ckpt, "state"))
        shutil.rmtree(ckpt, ignore_errors=True)
        return {
            "wall_s": round(wall, 1),
            "triggers": len(trig_ms),
            "mean_trigger_ms": int(np.mean(trig_ms)) if trig_ms else -1,
            # p50 vs max is the skew instrument: a hot key that one task
            # must fold alone stretches the worst trigger while the median
            # stays put
            "p50_trigger_ms": int(np.median(trig_ms)) if trig_ms else -1,
            "max_trigger_ms": int(np.max(trig_ms)) if trig_ms else -1,
            "state_rows": triggers[-1]["state_rows"] if triggers else -1,
            "state_mb": round(state_bytes / 1e6, 1),
        }

    def latest_updates(src):
        return stateful._native_fold(src)

    def funnel_updates(src):
        return cep._chain_stream(
            src, ("view", "click", "purchase"), "12 hours", cep._FUNNEL
        )

    rows = []
    # axis 1: event volume grows, keys fixed -> state must stay FLAT
    for s in scales:
        n_ev = BASE_EVENTS * s
        replay = _events_replay(out, n_ev, BASE_KEYS, n_files)
        for tag, builder, mode in (
            ("latest", latest_updates, "update"),
            ("funnel", funnel_updates, "append"),
        ):
            m = drive(builder, replay, tag, output_mode=mode)
            row = {"op": tag, "scale": s, "events": n_ev, "keys": BASE_KEYS, **m}
            rows.append(row)
            print("STREAM_ROW", json.dumps(row), flush=True)
    # axis 2: keys grow 10x at the LARGEST event volume -> state tracks keys
    n_ev = BASE_EVENTS * scales[-1]
    big_keys = BASE_KEYS * 10
    replay = _events_replay(out, n_ev, big_keys, n_files)
    for tag, builder, mode in (
        ("latest", latest_updates, "update"),
        ("funnel", funnel_updates, "append"),
    ):
        m = drive(builder, replay, tag, output_mode=mode)
        row = {"op": tag, "scale": scales[-1], "events": n_ev, "keys": big_keys, **m}
        rows.append(row)
        print("STREAM_ROW", json.dumps(row), flush=True)
    # axis 3: HOT KEY — same volume/key-domain as axis 1's largest run but
    # 40% of all events land on one user (the reference fixture's own shape,
    # ReadOnlyTableSpec.scala:41-54). State must stay O(keys) — the skew
    # cost, if any, shows up in max_trigger_ms (the funnel's key group is
    # one Arrow round-trip that cannot be split across tasks).
    replay = _events_replay(out, n_ev, BASE_KEYS, n_files, hot_frac=0.4)
    for tag, builder, mode in (
        ("latest", latest_updates, "update"),
        ("funnel", funnel_updates, "append"),
    ):
        m = drive(builder, replay, f"{tag}_skew", output_mode=mode)
        row = {
            "op": f"{tag}_hot40", "scale": scales[-1], "events": n_ev,
            "keys": BASE_KEYS, **m,
        }
        rows.append(row)
        print("STREAM_ROW", json.dumps(row), flush=True)

    # axis 3b: a 95%-hot key, where one state group would carry 95% of
    # every batch if the fold could not pre-combine. The native fold's
    # map-side partial aggregation reduces the hot key to one row per
    # input task before the state shuffle (SCALE.md "Hot keys on the
    # native fold").
    replay = _events_replay(out, n_ev, BASE_KEYS, n_files, hot_frac=0.95)
    m = drive(latest_updates, replay, "latest_hot95")
    row = {
        "op": "latest_hot95", "scale": scales[-1], "events": n_ev,
        "keys": BASE_KEYS, **m,
    }
    rows.append(row)
    print("STREAM_ROW", json.dumps(row), flush=True)
    return rows


def run_rows_section(spark, out: str, scales: list[int]) -> list[dict]:
    """Measured scale evidence for the two O(rows)-output families (VERDICT
    r6 #6): SCD2 history (q53's operator) and the as-of join (q12's). Both
    carry a shuffle on the key plus a per-key window sort; the claim under
    test is that wall time grows ~linearly with rows and the plan's
    exchange count stays FLAT (the window sort is the only O(rows log rows)
    term, and it never becomes an extra shuffle). A hot-key corpus row
    exposes the one real skew risk: a window partition cannot be split by
    AQE, so one hot key serializes its own sort."""
    from fs2_kafka_streams_spark.operators.asof_join import asof_join
    from fs2_kafka_streams_spark.operators.scd import changelog_history

    def n_exchanges(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    def measure(events, n_ev: int, bucketed: bool = False):
        # SCD2: full version history of the changelog keyed by user.
        # Timed region = plan build + noop write (the bench methodology);
        # row counts run after, untimed. bucketed=True runs the r8
        # skew-bounded variants (order_bucket/time_bucket): per-(key,
        # time-bucket) window sorts + stitch/carry instead of one per-key
        # sort. Width chosen for ~2000 buckets over the corpus (event_id
        # is dense 1..n; ts advances ~1 ms/event -> "1 hour" ≈ 3.6M ms).
        hist = changelog_history(
            events, ["user_id"], "event_id",
            order_bucket=max(1, n_ev // 2000) if bucketed else None,
        )
        t0 = time.time()
        hist.write.format("noop").mode("overwrite").save()
        t_hist = time.time() - t0
        n_hist, ex_hist = hist.count(), n_exchanges(hist)
        # as-of: every event enriched with the latest PRIOR purchase of the
        # same user — right side is the purchases subset (~10% of rows)
        right = events.filter("event_type = 'purchase'").select(
            "user_id", "ts", "value"
        )
        joined = asof_join(
            events, right, "ts", "ts", ["user_id"], ["user_id"],
            right_values=["value"],
            time_bucket="1 hour" if bucketed else None,
        )
        t0 = time.time()
        joined.write.format("noop").mode("overwrite").save()
        t_asof = time.time() - t0
        n_asof, ex_asof = joined.count(), n_exchanges(joined)
        return n_hist, t_hist, ex_hist, n_asof, t_asof, ex_asof

    rows = []
    for s in scales:
        n_ev = BASE_EVENTS * s
        events = spark.read.parquet(
            os.path.join(_events_dir(out, n_ev, BASE_KEYS), "events.parquet")
        )
        n_hist, t_hist, ex_hist, n_asof, t_asof, ex_asof = measure(
            events, n_ev
        )
        row = {
            "corpus": "uniform", "scale": s, "events": n_ev,
            "scd2_rows": n_hist, "scd2_s": round(t_hist, 1),
            "scd2_exchanges": ex_hist,
            "asof_rows": n_asof, "asof_s": round(t_asof, 1),
            "asof_exchanges": ex_asof,
        }
        rows.append(row)
        print("ROWS_ROW", json.dumps(row), flush=True)
    # hot-key corpus at the largest scale: the per-key window sort is the
    # one place a hot key cannot be split — measure the cost honestly,
    # then measure the r8 BUCKETED variants on the same corpus (the
    # mitigation: per-(key, bucket) sorts bounded by bucket width)
    n_ev = BASE_EVENTS * scales[-1]
    events = spark.read.parquet(
        os.path.join(
            _events_dir(out, n_ev, BASE_KEYS, hot_frac=0.4), "events.parquet"
        )
    )
    for corpus, bucketed in (("hot40", False), ("hot40_bucketed", True)):
        n_hist, t_hist, ex_hist, n_asof, t_asof, ex_asof = measure(
            events, n_ev, bucketed=bucketed
        )
        row = {
            "corpus": corpus, "scale": scales[-1], "events": n_ev,
            "scd2_rows": n_hist, "scd2_s": round(t_hist, 1),
            "scd2_exchanges": ex_hist,
            "asof_rows": n_asof, "asof_s": round(t_asof, 1),
            "asof_exchanges": ex_asof,
        }
        rows.append(row)
        print("ROWS_ROW", json.dumps(row), flush=True)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10")
    ap.add_argument("--out", default="/tmp/scale_corpus")
    ap.add_argument(
        "--streaming", action="store_true",
        help="run the measured streaming section instead of the batch one",
    )
    ap.add_argument(
        "--rows", action="store_true",
        help="run the O(rows) families section (SCD2 history, as-of join)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    # Python workers import the package too (the streaming section's state
    # functions) and see PYTHONPATH, not this process's sys.path: without
    # it a run started outside the repo fails in its workers. Set before
    # the session starts, so the JVM and every worker it forks inherit it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(args.out, exist_ok=True)

    if args.streaming or args.rows:
        from fs2_kafka_streams_spark.session import get_spark

        spark = get_spark()
        sections = []
        # rows (batch) BEFORE streaming: streaming leaves session residue
        # (state-store maintenance threads, GC pressure) that measurably
        # inflates batch timings run after it — same ordering discipline
        # as bench.py
        if args.rows:
            sections.append(run_rows_section)
        if args.streaming:
            sections.append(run_streaming_section)
        for section in sections:
            rows = section(spark, args.out, scales)
            hdr = list(rows[0])
            print("\n| " + " | ".join(hdr) + " |")
            print("|" + "---|" * len(hdr))
            for r in rows:
                print("| " + " | ".join(str(r[k]) for k in hdr) + " |")
        return

    from fs2_kafka_streams_spark.operators import clusters
    from fs2_kafka_streams_spark.operators.clusters import connected_components
    from fs2_kafka_streams_spark.operators.dedup import (
        boilerplate_report,
        minhash_lsh_pairs,
    )
    from fs2_kafka_streams_spark.operators.similarity import (
        embedding_neardup_pairs_lsh,
    )
    from fs2_kafka_streams_spark.session import get_spark

    spark = get_spark()
    rows = []
    for s in scales:
        n_docs, n_vecs = BASE_DOCS * s, BASE_VECS * s
        dpath = os.path.join(args.out, f"docs_{n_docs}.parquet")
        epath = os.path.join(args.out, f"emb_{n_vecs}.parquet")
        gen_documents(dpath, n_docs)
        gen_embeddings(epath, n_vecs)
        docs = spark.read.parquet(dpath)
        emb = spark.read.parquet(epath)

        t0 = time.time()
        pairs = minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket_size=256
        ).persist()
        n_pairs = pairs.count()
        t_lsh = time.time() - t0

        t0 = time.time()
        cc = connected_components(pairs)
        n_comp = cc.select("component").distinct().count()
        t_cc = time.time() - t0
        cc_rounds = clusters.LAST_ROUNDS
        pairs.unpersist()

        t0 = time.time()
        # auto-sized band width + bucket cap — the scale path; fixed 8-bit
        # bands measured 62x slower at 10x rows (see SCALE.md)
        epairs = embedding_neardup_pairs_lsh(
            emb, threshold=0.9, bits_per_band=None, max_bucket_size=1024
        )
        n_epairs = epairs.count()
        t_elsh = time.time() - t0

        t0 = time.time()
        boiler = boilerplate_report(docs, "text", "doc_id")
        n_boiler = boiler.count()
        t_boiler = time.time() - t0

        row = {
            "scale": s,
            "n_docs": n_docs,
            "n_vecs": n_vecs,
            "minhash_pairs": n_pairs,
            "minhash_s": round(t_lsh, 1),
            "cc_components": n_comp,
            "cc_rounds": cc_rounds,
            "cc_s": round(t_cc, 1),
            "emb_pairs": n_epairs,
            "emb_lsh_s": round(t_elsh, 1),
            "boiler_rows": n_boiler,
            "boiler_s": round(t_boiler, 1),
        }
        rows.append(row)
        print("SCALE_ROW", json.dumps(row), flush=True)

    hdr = list(rows[0])
    print("\n| " + " | ".join(hdr) + " |")
    print("|" + "---|" * len(hdr))
    for r in rows:
        print("| " + " | ".join(str(r[k]) for k in hdr) + " |")

    if len(rows) >= 2:
        a, b = rows[0], rows[-1]
        f = b["scale"] / a["scale"]
        print(
            f"\npair growth ×{b['minhash_pairs']/max(1,a['minhash_pairs']):.1f} "
            f"(corpus ×{f:.0f}; quadratic would be ×{f*f:.0f}); "
            f"cc rounds {a['cc_rounds']} -> {b['cc_rounds']}; "
            f"emb pair growth ×{b['emb_pairs']/max(1,a['emb_pairs']):.1f}"
        )


if __name__ == "__main__":
    main()
