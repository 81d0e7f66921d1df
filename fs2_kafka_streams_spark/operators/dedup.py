"""Deduplication operators for LLM training-data pipelines.

Four tiers, all DataFrame-native (no Python in the hot path):

- **exact**: content-hash groupBy — one shuffle on the hash, O(n).
- **n-gram Jaccard** (test-scale exact near-dup): shingle explode +
  self-join on shared shingles + pair aggregation. O(sum of shingle-bucket
  squares) — correct but quadratic in the worst case; the oracle-checkable
  ground truth for the approximate tiers.
- **MinHash + LSH** (the 100 TB path): k-permutation signatures, banded
  bucketing, candidate pairs only within buckets → candidate verification.
  Shuffle volume O(n·bands), never O(n²).
- **SimHash**: 64-bit sign-of-weighted-sum fingerprint + banded hamming
  candidate search.

Reference has no dedup operator; mandated by the north star
(BASELINE.json field 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.functions.hashing import md5_int64, md5_int64_hi
from fs2_kafka_streams_spark.operators import util
from fs2_kafka_streams_spark.operators.text import shingles, tokens
from fs2_kafka_streams_spark.operators.util import materialize

MINHASH_PERMS = 64
MINHASH_BANDS = 16  # 16 bands × 4 rows
# Mersenne-31: keeps a*h + b < 2^62, no int64 overflow under ANSI mode
MERSENNE = (1 << 31) - 1

# ``portable=True`` on the approximate tiers swaps every engine-native
# xxhash64 for an md5-derived int64 (``functions/hashing.py``) so the FULL
# MinHash-signature → banding → verify pipeline (and the SimHash bit sums)
# can be replayed verbatim in DuckDB SQL and hash-checked by the driver.
# Default False keeps the cheaper JVM xxhash64 for oracle-free scale runs.


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """One representative (min id) per distinct content hash."""
    h = F.sha2(F.col(content_col), 256).alias("content_hash")
    return df.select(h, F.col(id_col)).groupBy("content_hash").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


# Promoted to operators/util.py (r11 advisory: three modules imported the
# underscore-private versions); re-exported here so existing callers and
# test pins keep working unchanged.
_parse_byte_size = util._parse_byte_size
_local_path = util._local_path


# _is_scan_shaped and the width guard moved to operators/util.py (public
# ``spread``); the private names remain as aliases for existing callers.
_is_scan_shaped = util._is_scan_shaped
_spread = util.spread


def _doc_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, portable: bool = False
) -> DataFrame:
    """(doc id, shingle) rows with the shingle hashed to an int64.

    Joining/shuffling 8-byte longs instead of raw n-gram strings cuts the
    shuffle width of every downstream self-join; a 64-bit collision merges
    two shingles with probability ~(distinct shingles)²/2⁶⁴ — negligible even
    at 100 TB corpus scale, and the approximate tiers verify candidates
    against these same hashed sets so the tiers stay mutually consistent.
    ``portable`` selects the md5-derived hash that DuckDB can reproduce.
    """
    hasher = md5_int64 if portable else F.xxhash64
    base = _spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    )
    return (
        base.select("_id", tokens("_txt").alias("_tok"))
        .filter(F.size("_tok") >= n)
        .select("_id", F.explode(shingles(F.col("_tok"), n)).alias("_sh_raw"))
        .select("_id", hasher(F.col("_sh_raw")).alias("_sh"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over n-gram shingle sets, via shared-shingle
    self-join (only pairs sharing ≥1 shingle are ever materialized).

    ``max_doc_freq`` is the skew guard for corpus-scale runs: a boilerplate
    shingle appearing in f documents contributes O(f²) join rows, so real
    pipelines cut shingles above a document-frequency cap before pairing.
    With a cap set, both the intersection AND the per-doc set sizes are
    computed over the surviving shingles — i.e. the result is the exact
    Jaccard over the df-filtered shingle space (the standard df-cut
    semantics), not an approximation with inconsistent numerator and
    denominator. Default ``None`` keeps the fully exact, oracle-checked
    semantics.
    """
    sh = _doc_shingles(df, text_col, id_col, n)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("_sh")
        )
        sh = sh.join(rare, "_sh", "left_semi")
    # Materialize the shingle table ONCE: the self-join (a, b) plus the
    # sizes aggregate reference this subtree three times, and Spark
    # re-executes it per reference — the corpus was tokenized + shingled
    # + hashed 3× per call (8 parquet scans in the r11 q42 plan). Same
    # truncation minhash_lsh_pairs already applies to its shared shingles.
    sh = materialize(sh)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "na"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "na", "nb", "jaccard")
    )


def _perm_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for k hash permutations (seeded LCG)."""
    consts, x = [], 0x9E3779B97F4A7C15
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MERSENNE - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE
        consts.append((a, b))
    return consts


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3,
    k: int = MINHASH_PERMS,
    shingle_df: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """k-permutation MinHash signature per document.

    Per (doc, shingle) row an array of k permuted hashes is computed JVM-side
    (hash + affine mod-Mersenne), then min-reduced per document — one
    shuffle of k longs per doc. Pass ``shingle_df`` to reuse an
    already-materialized shingle set (LSH builds it once for signatures AND
    verification; it must have been built with the same ``portable`` flag).
    """
    sh = (
        shingle_df
        if shingle_df is not None
        else _doc_shingles(df, text_col, id_col, n, portable)
    )
    # portable _sh is already an md5-derived uniform int64 — fold it mod
    # Mersenne directly (re-hashing would need an engine-native hash)
    h = (
        F.pmod(F.col("_sh"), F.lit(MERSENNE))
        if portable
        else F.pmod(F.xxhash64("_sh"), F.lit(MERSENNE))
    )
    # k independent min-aggregates over the affine permutations, packed to
    # an array AFTER the aggregation. (The previous formulation built a
    # k-element array per shingle row and element_at-extracted each slot
    # inside the agg — the per-row array allocation made it 5× slower at
    # sf0.1; the partial aggregation itself is identical: k accumulators,
    # map-side combined, O(docs·k) shuffle.)
    mins = [
        F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE))).alias(
            f"_m{i}"
        )
        for i, (a, b) in enumerate(_perm_consts(k))
    ]
    return (
        sh.groupBy("_id")
        .agg(*mins)
        .select(
            "_id",
            F.array(*[F.col(f"_m{i}") for i in range(k)]).alias(
                "signature"
            ),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    k: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    max_bucket_size: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs at scale: LSH-banded MinHash candidates, then
    exact Jaccard verification of candidates only.

    With k=64, bands=16 (r=4): P(candidate) = 1-(1-j^4)^16 — ~0.97 at
    j=0.5. Candidate generation shuffles O(n·bands) rows; verification
    touches only the candidate set.

    ``max_bucket_size`` is the skew guard: a degenerate band bucket with f
    members (boilerplate/empty-ish documents hashing identically) emits
    O(f²) candidate pairs from that one bucket. With a cap, buckets larger
    than the cap are dropped before the self-join — a true near-dup cluster
    of that size still pairs up through its other 15 bands, so recall decays
    gracefully while the worst-case join blowup is bounded. Default ``None``
    (no cap) for the oracle-checked harness scale.
    """
    # One shingle materialization feeds both the signatures and the exact
    # verification — re-tokenizing + re-shingling the corpus is the
    # dominant repeated cost. A checkpoint (``materialize``), not persist:
    # a persisted plan stays in the CacheManager until an explicit
    # unpersist, which a function returning a LAZY result can never safely
    # issue — repeated sweeps would leak one O(tokens) cached table per
    # call. The checkpointed blocks are GC-reclaimed with the returned
    # DataFrame (ContextCleaner), and the truncated lineage is the same
    # trick clusters.py uses. A DISK_ONLY persist also lost the
    # 100×-corpus A/B, 235.2 s to 152.1 s (SCALE.md "Measured scaling").
    sh_shared = materialize(_doc_shingles(df, text_col, id_col, n, portable))
    sig = minhash_signatures(
        df, text_col, id_col, n, k, shingle_df=sh_shared, portable=portable
    )
    r = k // bands

    def band_hash(bi: int) -> Column:
        sl = F.slice("signature", bi * r + 1, r)
        if portable:
            # comma-joined decimal rendering — byte-identical to the DuckDB
            # oracle's m0::VARCHAR || ',' || ... band key
            return md5_int64(F.array_join(sl.cast("array<string>"), ","))
        return F.xxhash64(sl.cast("string"))

    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        band_hash(bi).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "bk.band", "bk.bh")

    if max_bucket_size is not None:
        small = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= max_bucket_size)
            .select("band", "bh")
        )
        banded = banded.join(small, ["band", "bh"], "left_semi")

    # Materialize the banded keys ONCE before the self-join: both join
    # sides reference this subtree and Spark re-executes it per side, so
    # the 64-min signature aggregation (the pipeline's big shuffle) ran
    # twice per call. O(docs·bands) rows of three scalars.
    banded = materialize(banded)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )

    # verify candidates with exact jaccard (reuses the persisted shingles)
    sh = sh_shared
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    sa = sh.withColumnRenamed("_id", "id_a")
    sb = sh.select(
        F.col("_id").alias("_idb"), F.col("_sh").alias("_sh_b")
    )
    inter = (
        cand.join(sa, "id_a")
        .join(
            sb,
            (F.col("id_b") == F.col("_idb"))
            & (F.col("_sh") == F.col("_sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "na"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, portable: bool = False
) -> DataFrame:
    """64-bit SimHash per document: bit j is set iff the sum over tokens of
    ±1 (by bit j of the token hash) is >= 0. Documents with no tokens
    produce no row (no hash to take a sign of).

    Execution: ZERO shuffle. Token hashes are computed JVM-side inside a
    ``transform`` over the token array (one row per document, never an
    exploded token table), then one Arrow-batched pandas UDF bit-unpacks,
    sums and re-packs each document's hashes with three numpy ops. The
    previous formulation (explode + 64 array aggregations) shuffled an
    O(tokens)×64 intermediate and was the bench's slowest expression tree;
    this one reads the corpus once and stays embarrassingly parallel.

    ``portable``: token bits come from two 60-bit md5 words (bits 0-59 from
    word 1, 60-63 from word 2) instead of xxhash64, so the DuckDB oracle
    can reproduce every bit; the numeric pipeline after the hash is exact
    integer arithmetic in both engines.
    """
    import numpy as np
    import pandas as pd

    base = _spread(
        df.select(F.col(id_col).alias("_sid"), F.col(text_col).alias("_txt"))
    )
    tok = tokens("_txt")
    if portable:
        lo = F.transform(tok, lambda t: md5_int64(t))  # bits 0-59
        hi = F.transform(tok, lambda t: md5_int64_hi(t))  # bits 60-63
    else:
        h = lambda t: F.xxhash64(t)  # noqa: E731
        lo = F.transform(tok, h)
        # uniform contract for the UDF: hi's low 4 bits are simhash bits
        # 60-63 (here: the xxhash's own top bits, sign-extension masked off)
        hi = F.transform(tok, lambda t: F.shiftright(h(t), 60))

    shifts_lo = np.arange(60, dtype=np.int64)
    shifts_hi = np.arange(4, dtype=np.int64)
    weights = np.left_shift(
        np.ones(64, dtype=np.uint64), np.arange(64, dtype=np.uint64)
    )

    def _pack(lo_s, hi_s):
        out = np.empty(len(lo_s), dtype=np.int64)
        for i, (hl, hh) in enumerate(zip(lo_s, hi_s)):
            hl = np.asarray(hl, dtype=np.int64)
            hh = np.asarray(hh, dtype=np.int64)
            n = len(hl)
            # (n_tok, 64) bit matrix; >> is arithmetic like Spark/DuckDB,
            # & 1 makes that irrelevant
            bits = np.concatenate(
                [
                    (hl[:, None] >> shifts_lo[None, :]) & 1,
                    (hh[:, None] >> shifts_hi[None, :]) & 1,
                ],
                axis=1,
            )
            set_bits = (2 * bits.sum(axis=0) >= n).astype(np.uint64)
            out[i] = (
                (set_bits * weights).sum(dtype=np.uint64).view(np.int64)
            )
        return pd.Series(out)

    pack = F.pandas_udf(_pack, returnType="bigint")
    return (
        base.select(
            F.col("_sid").alias("_id"), lo.alias("_lo"), hi.alias("_hi")
        )
        .filter(F.size("_lo") > 0)
        .select(
            F.col("_id").alias(id_col),
            pack(F.col("_lo"), F.col("_hi")).alias("simhash"),
        )
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidates by SimHash: band the 64 bits into 4×16-bit chunks
    (any pair within hamming ≤ 3 shares ≥1 exact chunk — pigeonhole), then
    verify hamming distance on candidates."""
    # Materialize the per-doc signature ONCE: the chunk self-join below
    # references this subtree twice, and Spark re-executes it per side —
    # with the §4.4-style filter/project duplication of the pack UDF that
    # adds, the corpus was tokenized + md5-hashed + packed FOUR times per
    # run (plan-verified at r11: 4 ArrowEvalPython nodes). One row of
    # (id, int64) per doc is the cheapest possible thing to materialize.
    sh = materialize(simhash(df, text_col, id_col, portable))
    chunks = sh.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ck"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("b"),
    ).select("_id", "simhash", "b.chunk", "b.ck")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---- benchmark decontamination -------------------------------------------


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    min_hits: int = 1,
    bench_text_col: str | None = None,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document benchmark-overlap report: ``(id, n_hits, contaminated)``.

    The standard pretraining decontamination step: a corpus document is
    contaminated if ≥ ``min_hits`` of its distinct n-gram shingles appear
    anywhere in the benchmark/eval set (n=13 is the common published
    choice; the tests and the oracle query use a smaller n so the
    synthetic fixture actually overlaps).

    Scale shape: the benchmark side is tiny relative to a 100 TB corpus —
    its distinct shingle set is broadcast, so the corpus side is ONE scan +
    shingle explode + broadcast hash semi-join + per-doc count: no
    corpus-sized shuffle at all. ``broadcast_bench=False`` falls back to a
    shuffle equi-join for benchmark sets too big to broadcast; both sides
    join on xxhash64'd 8-byte shingle keys (see ``_doc_shingles``).
    """
    b_sh = (
        _doc_shingles(benchmark, bench_text_col or text_col, id_col, n)
        .select("_sh")
        .distinct()
    )
    if broadcast_bench:
        b_sh = F.broadcast(b_sh)
    c_sh = _doc_shingles(corpus, text_col, id_col, n)
    hits = (
        c_sh.join(b_sh, "_sh")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(F.col(id_col))
        .join(hits.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    min_hits: int = 1,
    **kwargs,
) -> DataFrame:
    """Drop corpus documents that overlap the benchmark (see
    :func:`contamination_report`); returns the surviving corpus rows."""
    bad = contamination_report(
        corpus, benchmark, text_col, id_col, n, min_hits, **kwargs
    ).filter("contaminated")
    # no broadcast hint: the contaminated set is usually tiny (AQE will
    # broadcast it), but after a bad benchmark it can be a large fraction
    # of the corpus — let the runtime decide
    return corpus.join(bad.select(id_col), id_col, "left_anti")


# ---- corpus-level boilerplate detection ----------------------------------


def boilerplate_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_doc_frac: float = 0.05,
    min_docs: int = 2,
    heavy_frac: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Per-document boilerplate load (the CCNet-style cross-document
    repetition signal): an n-gram shingle is BOILERPLATE when it occurs in
    at least ``max(min_docs, ceil(min_doc_frac * n_docs))`` distinct
    documents — navigation chrome, license headers, template text. Each
    document reports its distinct-shingle count, how many of those are
    boilerplate, the fraction, and a ``boiler_heavy`` flag at
    ``heavy_frac``.

    Plan shape (100 TB): shingle explode (O(tokens)) → one document-
    frequency aggregation on the int64 shingle hash (map-side combine
    collapses each partition's repeats; hot boilerplate shingles are
    exactly the ones the combiner compresses best, so the hot key carries
    ~#partitions rows, not #docs) → threshold filter against a 1-row
    corpus-count aggregate (broadcast, never a driver scalar) → join the
    (small) boilerplate set back to the corpus shingles — AQE picks
    broadcast when it fits — → per-doc count aggregation. No O(n²)
    anywhere; the quadratic blowup boilerplate causes in pair-joins is
    precisely what this report exists to prevent (see ``max_doc_freq`` in
    :func:`ngram_jaccard_pairs`).

    ``portable=True`` hashes shingles with the md5-derived int64 so the
    whole report replays in DuckDB.
    """
    sh = _doc_shingles(df, text_col, id_col, n, portable)
    n_total = df.select(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("_n_total")
    )
    thresh = F.greatest(
        F.lit(min_docs).cast("bigint"),
        F.ceil(F.lit(float(min_doc_frac)) * F.col("_n_total")),
    )
    boiler = (
        sh.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("_df") >= thresh)
        .select("_sh", F.lit(1).alias("_b"))
    )
    per_doc = (
        sh.join(boiler, "_sh", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_b").alias("n_boiler"),
        )
    )
    nsh = F.coalesce("n_shingles", F.lit(0).cast("bigint"))
    nb = F.coalesce("n_boiler", F.lit(0).cast("bigint"))
    frac = nb.cast("double") / F.greatest(nsh, F.lit(1)).cast("double")
    return (
        df.select(id_col)
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            nsh.alias("n_shingles"),
            nb.alias("n_boiler"),
            frac.alias("boiler_frac"),
            (frac >= F.lit(float(heavy_frac))).alias("boiler_heavy"),
        )
    )
