"""LLM-data-pipeline queries (SURVEY §2 Q39–Q44 + extended suite).

UDF surface (Q39/Q40) plus the training-data operators: exact dedup,
n-gram Jaccard near-dup (exact ground truth), MinHash-LSH and SimHash
(scale paths, rows-only checked here, cross-validated against the exact
tier in the test suite), text analytics, and embedding cosine top-k
(brute-force oracle-checked; hyperplane-LSH as the scale path).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fs2_kafka_streams_spark.catalog import Catalog
from fs2_kafka_streams_spark.operators.util import materialize as _materialize
from fs2_kafka_streams_spark.operators.dedup import (
    MERSENNE,
    MINHASH_BANDS,
    MINHASH_PERMS,
    _perm_consts,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from fs2_kafka_streams_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from fs2_kafka_streams_spark.operators.text import analyze
from fs2_kafka_streams_spark.queries import query

# ---- Q39/Q40: UDF surface -------------------------------------------------


@query(
    "q39_udf_pandas",
    oracle="""
    SELECT o_orderkey,
           CAST(floor((CASE WHEN abs(o_totalprice) < 1e14
                            THEN o_totalprice END) / 50000) AS BIGINT)
             AS price_bucket,
           o_orderstatus || '-' || CAST(o_orderkey % 10 AS VARCHAR) AS tag
    FROM orders
    """,
    tags=("udf",),
)
def q39_udf_pandas(spark, sf_dir):
    """Vectorized pandas UDF (Arrow-batched) + row UDF, equal to pure SQL.

    The pandas UDF is the sanctioned slow path (A3-style custom decode);
    the row UDF exists to prove parity but is never the recommendation.
    """
    import numpy as np

    @F.pandas_udf("long")
    def price_bucket(s: pd.Series) -> pd.Series:
        # Nullable Int64, not int64: a NULL price arrives as NaN and the
        # non-nullable cast would throw, failing the whole query. The
        # measure-domain mask mirrors the oracle's abs(x) < 1e14 guard:
        # a non-finite price would crash the Int64 cast here (inf has no
        # integer) and the BIGINT cast on DuckDB (r10 non-finite sweep).
        s2 = s.where(np.isfinite(s) & (s.abs() < 1e14))
        return pd.Series(np.floor(s2 / 50000)).astype("Int64")

    @F.udf("string")
    def tag(status: str, key: int) -> str:
        # Row UDFs are still invoked on NULL inputs; mirror SQL
        # NULL-propagation instead of rendering the string "None-…".
        if status is None or key is None:
            return None
        return f"{status}-{key % 10}"

    o = Catalog(spark, sf_dir).orders
    return o.select(
        "o_orderkey",
        price_bucket("o_totalprice").alias("price_bucket"),
        tag("o_orderstatus", "o_orderkey").alias("tag"),
    )


@query(
    "q40_udaf_grouped_map",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CASE WHEN m IS NULL THEN NULL
                WHEN mx = mn THEN 0.0
                ELSE (m - mn) / (mx - mn) END AS norm
    FROM (
      SELECT o_custkey, o_orderkey, m,
             min(m) OVER (PARTITION BY o_custkey) AS mn,
             max(m) OVER (PARTITION BY o_custkey) AS mx
      FROM (
        SELECT o_custkey, o_orderkey,
               (CASE WHEN abs(o_totalprice) < 1e14
                     THEN o_totalprice END) AS m
        FROM orders
      )
    )
    """,
    tags=("udf", "udaf"),
)
def q40_udaf_grouped_map(spark, sf_dir):
    """Grouped-map UDAF: per-customer min-max normalization via
    ``applyInArrow``. min/max are exact and the normalization is one IEEE
    subtract+divide — deterministic regardless of group row order.

    Why Arrow, not pandas: grouped-map ships each group through Python, and
    the per-group pandas conversion dominates at high group counts
    (measured 10.6s trivial-function applyInPandas vs 1.4s applyInArrow on
    150k rows / 15k groups) — at 100 TB with millions of groups only the
    zero-copy Arrow form is viable. `normalize_pandas` (the applyInPandas
    twin) is asserted equal in the test suite for API parity."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def normalize(tbl: pa.Table) -> pa.Table:
        raw = tbl.column("o_totalprice").combine_chunks()
        # measure-domain mask (mirrors the oracle's abs(x) < 1e14 CASE):
        # a NaN price makes pc.min/max NaN-poisoned where SQL min/max
        # skip NaN-as-greatest differently per engine, and ±inf turns
        # the normalization into inf/inf = NaN — out-of-domain prices
        # get NULL norm instead (r10 non-finite sweep hash divergence)
        col = pc.if_else(
            pc.and_kleene(
                pc.is_finite(raw), pc.less(pc.abs(raw), pa.scalar(1e14))
            ),
            raw,
            pa.scalar(None, type=pa.float64()),
        )
        mn, mx = pc.min(col).as_py(), pc.max(col).as_py()
        if mn is None or mx is None:
            # all-NULL group: SQL's mx = mn is NULL → ELSE branch → NULL
            # norm. Python's None == None is True, which silently took the
            # 0.0 branch instead (r10 hostile-TPCH sweep).
            norm = pa.nulls(len(tbl), type=pa.float64())
        elif mx == mn:
            # in-domain rows normalize to 0.0; masked rows stay NULL
            norm = pc.if_else(
                pc.is_valid(col), pa.scalar(0.0), pa.scalar(None, type=pa.float64())
            )
        else:
            norm = pc.divide(pc.subtract(col, mn), mx - mn)
        return pa.table(
            {
                "o_custkey": tbl.column("o_custkey"),
                "o_orderkey": tbl.column("o_orderkey"),
                "norm": norm,
            }
        )

    o = Catalog(spark, sf_dir).orders
    return o.groupBy("o_custkey").applyInArrow(
        normalize, schema="o_custkey long, o_orderkey long, norm double"
    )


def normalize_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """The applyInPandas twin of q40's Arrow grouped-map (API parity;
    asserted equal in tests)."""
    import numpy as np

    # measure-domain mask — same guard as the Arrow twin and the oracle
    p = pdf["o_totalprice"]
    p = p.where(np.isfinite(p) & (p.abs() < 1e14))
    mn, mx = p.min(), p.max()
    if pd.isna(mn) or pd.isna(mx):
        # all-NULL group → NULL norm (mirrors the Arrow twin; pandas min of
        # an all-NaN series is NaN, and NaN == NaN is False, so without the
        # guard this fell into the divide branch and emitted NaN, which
        # Spark treats as a VALUE, not NULL)
        norm = pd.Series(pd.array([pd.NA] * len(pdf), dtype="Float64"))
    else:
        base = (
            pd.Series(0.0, index=pdf.index).where(p.notna())
            if mx == mn
            else (p - mn) / (mx - mn)
        )
        # nullable Float64: a masked (out-of-domain) row's NaN must reach
        # Spark as NULL, not as the NaN VALUE float64 would carry
        norm = pd.Series(
            pd.array(base.to_numpy(), dtype="Float64"), index=pdf.index
        )
    return pd.DataFrame(
        {
            "o_custkey": pdf["o_custkey"],
            "o_orderkey": pdf["o_orderkey"],
            "norm": norm,
        }
    )


# ---- Q41/Q42: deduplication ----------------------------------------------


@query(
    "q41_exact_dedup",
    oracle="""
    SELECT sha256(text) AS content_hash,
           min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def q41_exact_dedup(spark, sf_dir):
    """Exact content dedup: sha256 groupBy, min-id representative.
    One O(n) shuffle on the hash — the first pass of every pipeline."""
    return exact_dedup(Catalog(spark, sf_dir).documents, "text", "doc_id")


_SHINGLE_SQL = """
    toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


@query(
    "q42_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.n AS BIGINT) AS na,
           CAST(sb.n AS BIGINT) AS nb,
           CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
             AS jaccard
    FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
          >= 0.5
    """,
    tags=("llm", "dedup"),
)
def q42_ngram_jaccard(spark, sf_dir):
    """Exact pairwise Jaccard over 3-gram shingles (shared-shingle
    self-join). The ground truth the approximate tiers are measured
    against."""
    return ngram_jaccard_pairs(
        Catalog(spark, sf_dir).documents, "text", "doc_id", n=3, threshold=0.5
    )


@query(
    "q41b_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    hits AS (
      SELECT sh.doc_id, count(*) AS n_hits
      FROM sh JOIN bench USING (s)
      WHERE sh.doc_id % 97 <> 0
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           coalesce(h.n_hits, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits h USING (doc_id)
    """,
    tags=("llm", "dedup", "decontamination"),
)
def q41b_decontaminate(spark, sf_dir):
    """Benchmark decontamination report: a corpus document is contaminated
    if any of its distinct n-gram shingles appears in the held-out
    benchmark set (here: every 97th document; n=3 so the synthetic corpus
    actually overlaps — published pipelines use n≈13 on real text).

    Scale shape: the benchmark's distinct shingle set is broadcast; the
    corpus side is one scan + shingle explode + broadcast join + per-doc
    count — no corpus-sized shuffle (``operators/dedup.py::
    contamination_report``).
    """
    from fs2_kafka_streams_spark.operators.dedup import contamination_report

    d = Catalog(spark, sf_dir).documents
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(corpus, bench, "text", "doc_id", n=3)


# ---- portable-hash oracle SQL for the approximate dedup tiers ------------
#
# The md5-derived hash family (functions/hashing.py) is reproducible in
# DuckDB, so the FULL approximate pipelines — MinHash signatures → banding →
# candidate self-join → exact-Jaccard verify, SimHash bit sums → 16-bit
# banding → hamming verify, and the connected-components endgame (recursive
# CTE) — are hash-checked end-to-end, not rows-only. The SQL is generated
# from the same permutation constants the Spark operator uses.

_M = MERSENNE
_R = MINHASH_PERMS // MINHASH_BANDS  # rows per band


def _minhash_ctes() -> str:
    consts = _perm_consts(MINHASH_PERMS)
    sig_cols = ",\n        ".join(
        f"min(({a} * h + {b}) % {_M}) AS m{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, ('0x' || substr(md5({key}), 1, 15))::BIGINT AS bh FROM msig".format(
            bi=bi,
            key=" || ',' || ".join(
                f"m{bi * _R + j}::VARCHAR" for j in range(_R)
            ),
        )
        for bi in range(MINHASH_BANDS)
    )
    return f"""
    shh AS (
      SELECT doc_id, (('0x' || substr(md5(s), 1, 15))::BIGINT) % {_M} AS h
      FROM sh
    ),
    msig AS (
      SELECT doc_id,
        {sig_cols}
      FROM shh GROUP BY doc_id
    ),
    mband AS (
      {band_selects}
    ),
    mcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mband a JOIN mband b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    minter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM mcand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
      GROUP BY 1, 2
    ),
    mh_pairs AS (
      SELECT minter.id_a, minter.id_b,
             CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
               AS jaccard
      FROM minter
      JOIN sizes sa ON minter.id_a = sa.doc_id
      JOIN sizes sb ON minter.id_b = sb.doc_id
      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
            >= 0.5
    )"""


def _simhash_ctes() -> str:
    sums = ",\n        ".join(
        [f"sum((h1 >> {j}) & 1) AS s{j}" for j in range(60)]
        + [f"sum((h2 >> {j - 60}) & 1) AS s{j}" for j in range(60, 64)]
    )
    pack_terms = " + ".join(
        f"(CASE WHEN 2 * s{j} >= n THEN {1 << j if j < 63 else '(-9223372036854775807 - 1)'} ELSE 0 END)"
        for j in range(64)
    )
    chunk_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, sim, {c} AS chunk, (sim >> {16 * c}) & 65535 AS ck FROM spack"
        for c in range(4)
    )
    return f"""
    stok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      FROM documents
    ),
    sbit AS (
      SELECT doc_id,
             ('0x' || substr(md5(t), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(t), 16, 15))::BIGINT AS h2
      FROM stok
    ),
    ssum AS (
      SELECT doc_id, count(*) AS n,
        {sums}
      FROM sbit GROUP BY doc_id
    ),
    spack AS (SELECT doc_id, CAST({pack_terms} AS BIGINT) AS sim FROM ssum),
    schunk AS (
      {chunk_selects}
    ),
    scand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sim AS sim_a, b.sim AS sim_b
      FROM schunk a JOIN schunk b
        ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id
    ),
    sh_pairs AS (
      SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER)
               AS hamming
      FROM scand
      WHERE bit_count(xor(sim_a, sim_b)) <= 3
    )"""


# connected components as a recursive CTE over any (id_a, id_b) pair CTE:
# min reachable id per vertex == the min-label fixed point the distributed
# operator converges to
def _cc_ctes(src: str) -> str:
    return f"""
    ed AS (
      SELECT id_a AS a, id_b AS b FROM {src}
      UNION SELECT id_b, id_a FROM {src}
    ),
    reach(id, r) AS (
      SELECT a, a FROM ed
      UNION SELECT ed.b, reach.r FROM reach JOIN ed ON reach.id = ed.a
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""


_CLUSTER_CTES = (
    """
    inter4 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT inter4.id_a, inter4.id_b
      FROM inter4
      JOIN sizes sa ON inter4.id_a = sa.doc_id
      JOIN sizes sb ON inter4.id_b = sb.doc_id
      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
            >= 0.4
    ),"""
    + _cc_ctes("jp")
)


@query(
    "q42d_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL}, {_CLUSTER_CTES}
    SELECT id, component FROM comp
    """,
    tags=("llm", "dedup", "clusters"),
)
def q42d_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → connected components (the full dedup endgame;
    ``operators/clusters.py``). The distributed side is iterative
    min-label propagation with pointer jumping; the oracle replays the
    same fixed point as a DuckDB recursive CTE (min reachable id), and
    ``tests/test_clusters.py`` cross-checks a union-find oracle."""
    from fs2_kafka_streams_spark.operators.clusters import (
        connected_components,
    )
    from fs2_kafka_streams_spark.operators.dedup import ngram_jaccard_pairs

    docs = Catalog(spark, sf_dir).documents
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.4)
    return connected_components(pairs.select("id_a", "id_b")).orderBy(
        "id", "component"
    )


@query(
    "q42b_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLE_SQL}, {_minhash_ctes()}
    SELECT id_a, id_b, jaccard FROM mh_pairs
    """,
    tags=("llm", "dedup", "scale"),
)
def q42b_minhash_lsh(spark, sf_dir):
    """MinHash(64) + LSH(16 bands) near-dup pairs with exact verification —
    the 100 TB path (O(n·bands) shuffle, never O(n²)). ``portable=True``
    swaps xxhash64 for the md5-derived hash family so the ENTIRE pipeline
    (signatures → bands → candidates → verify) is replayed in DuckDB and
    hash-checked; recall vs q42 is additionally asserted in the suite."""
    return minhash_lsh_pairs(
        Catalog(spark, sf_dir).documents,
        "text",
        "doc_id",
        n=3,
        threshold=0.5,
        portable=True,
    )


@query(
    "q42c_simhash",
    oracle=f"""
    WITH {_simhash_ctes()}
    SELECT id_a, id_b, hamming FROM sh_pairs
    """,
    tags=("llm", "dedup", "scale"),
)
def q42c_simhash(spark, sf_dir):
    """SimHash-64 near-dup candidates (banded hamming ≤ 3), portable-hash
    tier: every signature bit is reproduced by the DuckDB oracle."""
    return simhash_pairs(
        Catalog(spark, sf_dir).documents, "text", "doc_id", portable=True
    )


# ---- Q43: text analytics --------------------------------------------------


@query(
    "q43_top_terms",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ), counts AS (
      SELECT lang, term, count(*) AS cnt FROM tok GROUP BY 1, 2
    )
    SELECT lang, term, CAST(cnt AS BIGINT) AS cnt, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY cnt DESC, term) AS rnk
      FROM counts
    ) WHERE rnk <= 5
    """,
    tags=("llm", "text"),
)
def q43_top_terms(spark, sf_dir):
    """Top-5 terms per language: tokenize → explode → count → rank."""
    d = Catalog(spark, sf_dir).documents
    from fs2_kafka_streams_spark.operators.text import tokens

    counts = (
        d.select("lang", F.explode(tokens("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "term", "cnt", "rnk")
    )


_STOP_SQL = {
    "en": "['the','and','of','to','is']",
    "es": "['el','la','de','que','y']",
    "de": "['der','die','und','das','ist']",
    "fr": "['le','la','et','les','des']",
    "zh": "['de','shi','le','zai','he']",
}
_HITS = {
    lang: f"len(list_filter(t, x -> list_contains({lst}, x)))"
    for lang, lst in _STOP_SQL.items()
}


def _redact_sql(expr: str) -> str:
    """Nest DuckDB regexp_replace(..., 'g') calls byte-identically to
    :func:`operators.text.redact`'s pattern chain."""
    from fs2_kafka_streams_spark.operators.text import REDACT_PATTERNS

    for pat, tag in REDACT_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{tag}', 'g')"
    return expr


def _md5_bucket_sql(seed: str, n: int) -> str:
    """DuckDB twin of :func:`operators.pipeline.seeded_bucket`."""
    return (
        f"CAST(concat('0x', substr(md5('{seed}' || CAST(doc_id AS VARCHAR)),"
        f" 1, 8)) AS BIGINT) % {n}"
    )


@query(
    "q43b_text_metrics",
    # the BPE tokenizer class is spelled out (not \s): Java's \s includes
    # \x0b, RE2's does not — BPE_RE in operators/text.py is the one
    # definition
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, text, t,
             {_HITS['en']} AS h_en, {_HITS['es']} AS h_es,
             {_HITS['de']} AS h_de, {_HITS['fr']} AS h_fr,
             {_HITS['zh']} AS h_zh,
             substr(text, 1, 40) || ' reach user' || CAST(doc_id AS VARCHAR)
               || '@example.com or 555-867-5309 at 10.0.'
               || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789' AS pii,
             {_md5_bucket_sql('split-v1', 10000)} AS bucket,
             {_md5_bucket_sql('sample-v1', 10000)} AS sample_bucket
      FROM toks
    )
    SELECT doc_id, lang,
           CAST(len(t) AS INTEGER) AS n_tokens,
           -- t IS NULL guard first: NULL text → NULL prediction. Without
           -- it every hit count is NULL, the WHENs all fail, and the ELSE
           -- emits 'zh' while Spark's lang_id returns NULL (r8 review).
           CASE WHEN t IS NULL THEN NULL
                WHEN h_en >= greatest(h_es, h_de, h_fr, h_zh) THEN 'en'
                WHEN h_es >= greatest(h_de, h_fr, h_zh) THEN 'es'
                WHEN h_de >= greatest(h_fr, h_zh) THEN 'de'
                WHEN h_fr >= h_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred,
           least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
             + CAST(h_en AS DOUBLE) / CAST(greatest(len(t), 1) AS DOUBLE)
             - CAST(length(text)
                    - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                    AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)
             AS quality,
           -- NULL guard: DuckDB's list_prepend(0, NULL) yields [0], so an
           -- unguarded fold maps NULL text to fingerprint 0 while Spark's
           -- F.aggregate(NULL, ...) is NULL (r8 review, latent divergence)
           CASE WHEN t IS NULL THEN NULL ELSE list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(t, x ->
                 ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647)),
             (acc, x) -> (acc * 1000003 + x) % 2147483647) END AS fingerprint,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]{{1,3}}|[^a-z0-9 \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+'))
             AS INTEGER) AS n_bpe_tokens,
           md5({_redact_sql('pii')}) AS scrub_sig,
           CAST(len(t) - len(list_distinct(t)) AS DOUBLE)
             / CAST(greatest(len(t), 1) AS DOUBLE) AS rep_ratio,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           sample_bucket < (CASE lang WHEN 'en' THEN 5000
                                      WHEN 'de' THEN 2500
                                      ELSE 1000 END) AS sampled,
           md5('shuffle-v1' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           {_md5_bucket_sql('shard-v1', 65536)} AS shard_bucket
    FROM scored
    """,
    tags=("llm", "text", "pipeline"),
)
def q43b_text_metrics(spark, sf_dir):
    """Text-analysis + training-data pipeline metrics per document — pure
    column expressions over one documents scan, scan-speed at 100 TB:

    - :func:`operators.text.analyze`: token count, stopword-voting
      language ID, quality score, rolling-hash fingerprint (exact integer /
      single-IEEE arithmetic, hash-checkable cross-engine);
    - token budgets: whitespace count + BPE-ish pre-tokenizer count (the
      fast regex tier; a real BPE plugs in as a pandas UDF over the same
      plan);
    - PII scrubbing: each document gets a synthetic PII tail (email, phone,
      IP, SSN — the fixture corpus has none) so the redaction chain is
      exercised; the oracle applies the byte-identical regex chain and
      compares the md5 of the scrubbed text. Plus the Gopher-style
      duplicate-token ratio;
    - ``operators/pipeline.py`` stages as verifiable columns: the
      deterministic train/val/test split (:func:`hash_split`, seeded md5
      bucket — disjoint, stable under corpus growth), stratified-sample
      membership (keep 50% of en, 25% of de, 10% of everything else —
      seeded hash buckets, never ``rand()``), the seeded global-shuffle
      sort key (range-sorting by it IS the shuffle — exposed as a column
      so the permutation is order-insensitively checkable without a
      single-task global ``row_number``), and the 64k-bucket shard
      assignment ``sharded_export`` repartitions by.

    The sample flag comes from :func:`stratified_sample_flag` — the exact
    predicate :func:`stratified_sample` filters on — as a zero-join column:
    the kept set is ~50% of the corpus, so semi-joining against it with a
    broadcast is a driver OOM at scale.
    """
    from fs2_kafka_streams_spark.operators.pipeline import (
        deterministic_shuffle,
        hash_split,
        seeded_bucket,
        stratified_sample_flag,
    )
    from fs2_kafka_streams_spark.operators.text import (
        bpe_token_count,
        redact,
        repetition_ratio,
        tokens,
        whitespace_token_count,
    )

    # the range sort runs on the raw documents: under the text metrics its
    # boundary-sampling job would evaluate every metric twice. The staged
    # token column is the one regex pass repetition_ratio reads three
    # times (analyze() stages its own the same way).
    d = deterministic_shuffle(
        Catalog(spark, sf_dir).documents, "doc_id", expose_key="shuffle_key"
    ).withColumn("_tok", tokens("text"))
    pii = F.concat(
        F.substring("text", 1, 40),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-867-5309 at 10.0."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".7 ssn 123-45-6789"),
    )
    out = analyze(d, "text").select(
        "doc_id",
        "lang",
        "n_tokens",
        "lang_pred",
        "quality",
        "fingerprint",
        whitespace_token_count("text").alias("n_ws_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.md5(redact(pii)).alias("scrub_sig"),
        repetition_ratio(F.col("_tok")).alias("rep_ratio"),
        "shuffle_key",
    )
    out = hash_split(out, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.withColumns(
        {
            "sampled": stratified_sample_flag(
                "lang", "doc_id", {"en": 0.5, "de": 0.25}, default=0.1
            ),
            "shard_bucket": seeded_bucket("doc_id", "shard-v1", 65_536),
        }
    )


_GOPHER_ORACLE = """
    WITH tk AS (
      SELECT doc_id,
             -- NULL text => every metric NULL (no measurement), matching
             -- the r8 lang_id/fingerprint contract; without the explicit
             -- gate the two engines disagree per-column (coalesce/greatest
             -- NULL behavior differs path by path)
             text IS NULL AS _nul,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t,
             len(text) - len(replace(text, '#', '')) AS nh,
             CAST((len(text) - len(replace(text, '...', ''))) / 3
                  AS BIGINT) AS ne
      FROM documents
    ),
    md AS (
      SELECT doc_id, max(c) AS top_n FROM (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS w FROM tk)
        GROUP BY 1, 2
      ) GROUP BY 1
    ),
    row_m AS (
      SELECT doc_id, _nul,
             len(t) AS n_words,
             coalesce(list_sum(list_transform(t, x -> len(x))), 0)
               AS char_sum,
             len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
               AS n_alpha,
             CAST(greatest(len(t) - 1, 0)
                  - len(list_distinct(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i+1]))) AS DOUBLE)
               / CAST(greatest(len(t) - 1, 1) AS DOUBLE)
               AS dup_2gram_frac,
             CAST(greatest(len(t) - 2, 0)
                  - len(list_distinct(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
                    AS DOUBLE)
               / CAST(greatest(len(t) - 2, 1) AS DOUBLE)
               AS dup_3gram_frac,
             len(list_filter(t,
                 x -> x IN ('the', 'and', 'of', 'to', 'is')))
               AS stop_hits,
             nh + ne AS n_sym
      FROM tk
    ),
    m AS (
      SELECT r.doc_id, r._nul, r.n_words,
             CAST(r.char_sum AS DOUBLE)
               / CAST(greatest(r.n_words, 1) AS DOUBLE) AS mean_word_len,
             CAST(r.n_alpha AS DOUBLE)
               / CAST(greatest(r.n_words, 1) AS DOUBLE) AS alpha_word_frac,
             r.dup_2gram_frac, r.dup_3gram_frac,
             CAST(coalesce(md.top_n, 0) AS DOUBLE)
               / CAST(greatest(r.n_words, 1) AS DOUBLE) AS top_word_frac,
             r.stop_hits,
             CAST(r.n_sym AS DOUBLE)
               / CAST(greatest(r.n_words, 1) AS DOUBLE) AS symbol_word_ratio
      FROM row_m r LEFT JOIN md USING (doc_id)
    )
    SELECT doc_id,
           CASE WHEN _nul THEN NULL ELSE n_words END AS n_words,
           CASE WHEN _nul THEN NULL ELSE dup_2gram_frac END AS dup_2gram_frac,
           CASE WHEN _nul THEN NULL ELSE dup_3gram_frac END AS dup_3gram_frac,
           CASE WHEN _nul THEN NULL ELSE stop_hits END AS stop_hits,
           CASE WHEN _nul THEN NULL ELSE mean_word_len END AS mean_word_len,
           CASE WHEN _nul THEN NULL ELSE alpha_word_frac END AS alpha_word_frac,
           CASE WHEN _nul THEN NULL ELSE top_word_frac END AS top_word_frac,
           CASE WHEN _nul THEN NULL ELSE symbol_word_ratio END AS symbol_word_ratio,
           CASE WHEN _nul THEN NULL ELSE n_words >= 20 AND n_words <= 100000 END AS ok_word_count,
           CASE WHEN _nul THEN NULL ELSE mean_word_len >= 2.0 AND mean_word_len <= 10.0 END AS ok_mean_word_len,
           CASE WHEN _nul THEN NULL ELSE alpha_word_frac >= 0.8 END AS ok_alpha_words,
           CASE WHEN _nul THEN NULL ELSE dup_2gram_frac <= 0.6 END AS ok_dup_2gram,
           CASE WHEN _nul THEN NULL ELSE dup_3gram_frac <= 0.5 END AS ok_dup_3gram,
           CASE WHEN _nul THEN NULL ELSE top_word_frac <= 0.3 END AS ok_top_word,
           CASE WHEN _nul THEN NULL ELSE stop_hits >= 2 END AS ok_stopwords,
           CASE WHEN _nul THEN NULL ELSE symbol_word_ratio <= 0.1 END AS ok_symbols,
           CASE WHEN _nul THEN NULL ELSE (n_words >= 20 AND n_words <= 100000) AND (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AND (alpha_word_frac >= 0.8) AND (dup_2gram_frac <= 0.6) AND (dup_3gram_frac <= 0.5) AND (top_word_frac <= 0.3) AND (stop_hits >= 2) AND (symbol_word_ratio <= 0.1) END AS pass_quality
    FROM m
"""


@query("q43f_quality_filter", oracle=_GOPHER_ORACLE, tags=("llm", "quality"))
def q43f_quality_filter(spark, sf_dir):
    """Gopher-rules document quality filter (Rae et al. 2021 table A1
    structure): word-count bounds, mean word length, alphabetic-word
    fraction, duplicate 2-/3-gram fractions, top-word share, stopword
    floor, symbol-to-word ratio — per-document metrics plus accept flags
    plus the conjunction ``pass_quality``.

    Everything except the top-word share is a scan-stage projection over
    the row's own token array (zero shuffle); the per-doc mode uses one
    map-side-combined (doc, word) aggregation. See
    :func:`operators.text.gopher_metrics` for the 100 TB plan contract.
    """
    from fs2_kafka_streams_spark.operators.text import gopher_metrics

    d = Catalog(spark, sf_dir).documents
    return gopher_metrics(d, "text", "doc_id")


_BOILER_ORACLE = f"""
    WITH {{shingle_ctes}}
    shh2 AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh
    ),
    dfc AS (SELECT h, count(*) AS df_n FROM shh2 GROUP BY 1),
    tot AS (SELECT count(*) AS n_total FROM documents),
    boiler AS (
      SELECT h FROM dfc, tot
      WHERE df_n >= greatest(2, CAST(ceil(CAST(0.05 AS DOUBLE) * n_total)
                                     AS BIGINT))
    ),
    per AS (
      SELECT s.doc_id,
             count(*) AS n_shingles,
             CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler
      FROM shh2 s LEFT JOIN boiler b USING (h)
      GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(p.n_shingles, 0) AS n_shingles,
           coalesce(p.n_boiler, 0) AS n_boiler,
           CAST(coalesce(p.n_boiler, 0) AS DOUBLE)
             / CAST(greatest(coalesce(p.n_shingles, 0), 1) AS DOUBLE)
             AS boiler_frac,
           CAST(coalesce(p.n_boiler, 0) AS DOUBLE)
             / CAST(greatest(coalesce(p.n_shingles, 0), 1) AS DOUBLE)
             >= CAST(0.5 AS DOUBLE) AS boiler_heavy
    FROM documents d LEFT JOIN per p USING (doc_id)
"""


@query(
    "q43h_boilerplate",
    oracle=_BOILER_ORACLE.format(shingle_ctes=_SHINGLE_SQL + ","),
    tags=("llm", "boilerplate", "scale"),
)
def q43h_boilerplate(spark, sf_dir):
    """Cross-document boilerplate load (CCNet-style): 3-gram shingles in
    ≥ max(2, ceil(5% of docs)) distinct documents are boilerplate; each
    document reports its boilerplate-shingle fraction + a heavy flag.
    One document-frequency aggregation on int64 shingle hashes + a
    broadcast threshold — the skew-prevention twin of ``max_doc_freq``
    in the pair-join tiers (see :func:`operators.dedup
    .boilerplate_report` for the 100 TB plan contract)."""
    from fs2_kafka_streams_spark.operators.dedup import boilerplate_report

    d = Catalog(spark, sf_dir).documents
    return boilerplate_report(
        d, "text", "doc_id", n=3, min_doc_frac=0.05, min_docs=2,
        heavy_frac=0.5, portable=True,
    )


_CHUNK_ORACLE = """
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    st AS (
      SELECT doc_id, t,
             unnest(list_filter(range(1, greatest(len(t), 1) + 1),
                                i -> (i - 1) % 24 = 0)) AS s
      FROM tk
    )
    SELECT doc_id,
           CAST((s - 1) / 24 AS INTEGER) AS chunk_idx,
           array_to_string(t[s:s+31], ' ') AS chunk_text,
           CAST(len(t[s:s+31]) AS INTEGER) AS n_chunk_tokens
    FROM st
    WHERE len(t[s:s+31]) > 0
"""


@query("q43i_chunking", oracle=_CHUNK_ORACLE, tags=("llm", "chunking"))
def q43i_chunking(spark, sf_dir):
    """Context-window chunking: 32-token windows, stride 24 (8-token
    overlap), one output row per (doc, chunk) with the rejoined text and
    its token count. Pure row-local array expressions exploded on the
    scan — zero shuffle; every chunk boundary replays exactly in the
    DuckDB oracle (see :func:`operators.pipeline.chunk_documents`)."""
    from fs2_kafka_streams_spark.operators.pipeline import chunk_documents

    d = Catalog(spark, sf_dir).documents
    return chunk_documents(d, "text", "doc_id", chunk_size=32, stride=24)


_MIX_ORACLE = """
    WITH doc AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS n_tok
      FROM documents
    ),
    st AS (
      SELECT source, count(*) AS n_docs, sum(n_tok) AS src_w
      FROM doc GROUP BY 1
    ),
    st2 AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(src_w AS DOUBLE))) AS BIGINT) AS isqrt
      FROM st
    ),
    tot AS (
      SELECT sum(isqrt) AS sum_sqrt, sum(n_docs) AS n_total FROM st2
    ),
    pr AS (
      SELECT source,
             least(CAST(1.0 AS DOUBLE),
                   CAST(0.5 AS DOUBLE)
                   * CAST(n_total AS DOUBLE)
                   * CAST(isqrt AS DOUBLE)
                   / (CAST(sum_sqrt AS DOUBLE)
                      * CAST(n_docs AS DOUBLE))) AS p_sel
      FROM st2, tot
    )
    SELECT d.doc_id, d.source, d.n_tok, p.p_sel,
           CAST(1.0 AS DOUBLE) / p.p_sel AS sample_weight
    FROM doc d JOIN pr p USING (source)
    WHERE CAST(CAST(concat('0x', substr(md5('mix-v1'
            || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
          AS DOUBLE) / 10000.0 < p.p_sel
"""


@query("q43g_source_mix", oracle=_MIX_ORACLE, tags=("llm", "mixture"))
def q43g_source_mix(spark, sf_dir):
    """Temperature-weighted (alpha = 0.5) source-mixture sampling — the
    domain-rebalancing step of assembling a multi-corpus pretraining mix:
    a source's sampled share is proportional to the square root of its
    token mass, damping dominant domains. Deterministic seeded-hash
    membership, importance weight ``1/p_s`` attached for loss weighting.

    One O(sources)-row aggregate broadcast back over the corpus scan —
    no corpus-sized shuffle (see :func:`operators.pipeline
    .temperature_sample`).
    """
    from fs2_kafka_streams_spark.operators.pipeline import temperature_sample
    from fs2_kafka_streams_spark.operators.text import token_count

    d = Catalog(spark, sf_dir).documents
    return temperature_sample(
        d.withColumn("_tok", token_count("text")),
        weight_col="_tok",
        source_col="source",
        id_col="doc_id",
        frac=0.5,
        seed="mix-v1",
    )


def _profile_oracle() -> str:
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def render(c: str) -> tuple[str, str]:
        if c == "ts":
            return (
                f"strftime(min({c}), '%Y-%m-%d %H:%M:%S.%f')",
                f"strftime(max({c}), '%Y-%m-%d %H:%M:%S.%f')",
            )
        if c == "value":
            return (
                f"CAST(CAST(min({c}) AS DECIMAL(18,2)) AS VARCHAR)",
                f"CAST(CAST(max({c}) AS DECIMAL(18,2)) AS VARCHAR)",
            )
        return (f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)")

    # the profile describes the MEASURE VIEW of the metric column:
    # non-finite/overflow values are NULL measures (canonical.measure),
    # so min/max/counts run over the same domain on both engines — a raw
    # min(-inf) cast to DECIMAL throws in DuckDB and formats differently
    # everywhere else (r10 extreme-numerics sweep)
    src = (
        "(SELECT event_id, ts, user_id, event_type, "
        "(CASE WHEN abs(value) < 1e14 THEN value END) AS value, props "
        "FROM events)"
    )
    parts = []
    for c in cols:
        mn, mx = render(c)
        parts.append(f"""
    SELECT '{c}' AS column, count(*) AS n_rows,
           count({c}) AS n_nonnull,
           count(DISTINCT {c}) AS n_distinct,
           {mn} AS min_value, {mx} AS max_value
    FROM {src} t""")
    return "\n    UNION ALL".join(parts)


@query("q50_table_profile", oracle=_profile_oracle(), tags=("profile",))
def q50_table_profile(spark, sf_dir):
    """Single-pass dataset profiling over `events`: row count, per-column
    non-null and exact-distinct counts, min/max with explicit
    cross-engine renderings (timestamps via a fixed format pattern,
    doubles via exact decimal) — the ANALYZE / data-quality operator a
    100 TB pipeline runs before trusting a table. One aggregation job;
    the long-format pivot is a row-local explode of the 1-row result
    (see :mod:`operators.profile`)."""
    from fs2_kafka_streams_spark.canonical import measure
    from fs2_kafka_streams_spark.operators.profile import table_profile

    # profile the measure view of the metric column (see _profile_oracle)
    e = Catalog(spark, sf_dir).events.withColumn(
        "value", measure("value")
    )
    return table_profile(e)


def _q47_oracle() -> str:
    stride_sums = ",\n        ".join(
        f"sum(CASE WHEN (i - 1) % 8 = {k} THEN bv ELSE 0 END) AS s{k}"
        for k in range(8)
    )
    feat_cols = ",\n      ".join(
        f"CAST(coalesce(a.s{k}, 0) % 256 AS DOUBLE) / 255.0 AS f{k}"
        for k in range(8)
    )
    return f"""
    WITH m AS (
      -- one media row per doc_id: duplicate document rows would UNNEST
      -- both payloads into the per-media byte aggregation (n_bytes
      -- doubled) while the Spark mapInPandas path derives per-row
      -- (r11 fuzz, seed 3); min(text) is the same deterministic
      -- survivor rule as the embedding family's _EMB_SQL
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             encode(text) AS payload
      FROM (SELECT doc_id, min(text) AS text
            FROM documents GROUP BY doc_id)
    ),
    b AS (
      SELECT media_id, i,
             ('0x' || substr(hx, 2 * i - 1, 2))::INT AS bv
      FROM (
        SELECT media_id, hex(payload) AS hx,
               unnest(range(1, octet_length(payload) + 1)) AS i
        FROM m
      )
    ),
    agg AS (
      SELECT media_id, count(*) AS nb, sum(bv) AS total,
        {stride_sums}
      FROM b GROUP BY media_id
    )
    SELECT m.media_id, m.kind,
      CAST(coalesce(a.nb, 0) AS INTEGER) AS n_bytes,
      CAST(coalesce(a.total, 0) AS DOUBLE)
        / greatest(coalesce(a.nb, 0), 1) AS byte_mean,
      {feat_cols}
    FROM m LEFT JOIN agg a USING (media_id)
    """


@query("q47_multimodal_features", oracle=_q47_oracle(), tags=("multimodal",))
def q47_multimodal_features(spark, sf_dir):
    """Multimodal plumbing as a first-class query: documents → synthetic
    binary media table → Arrow-batched mapInPandas feature extraction
    (decode stubbed deterministically — no media libs in the container; the
    schema/batching/partitioning are the real 100 TB shape). The stub's
    features (byte count, byte mean, 8 stride-sum channels) are replayed
    byte-for-byte by the DuckDB oracle over the same utf-8 payloads, so the
    whole mapInPandas path is hash-checked, not rows-only; the feature
    vector is widened to f0..f7 because top-level array columns crash the
    driver's pandas canonicalizer (round-1 q25/q29 failure mode)."""
    from fs2_kafka_streams_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    # one row per doc_id (min text — see the oracle's m CTE): a media
    # entity has ONE payload; duplicate source rows are upstream dirt
    docs = (
        Catalog(spark, sf_dir)
        .documents.groupBy("doc_id")
        .agg(F.min("text").alias("text"))
    )
    media = synthesize_media(docs, "doc_id", "text")
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "byte_mean",
        *[F.element_at("feature", k + 1).alias(f"f{k}") for k in range(8)],
    )


# ---- Q44: embedding similarity search ------------------------------------

_N_QUERIES = 3

#: fixture embedding dimensionality — single source of truth lives next to
#: the well-formed-vector contract itself (r10 advisory: a second hardcoded
#: copy in the streaming ANN path could drift and silently empty the corpus)
from fs2_kafka_streams_spark.operators.similarity import EMB_DIM as _EMB_DIM


def _emb(spark, sf_dir):
    """The WELL-FORMED, ID-UNIQUE view of the embeddings table: the
    similarity family's input contract (non-NULL vector, exactly
    _EMB_DIM elements, every element non-NULL with |x| <= EMB_BOUND,
    then ONE row per vec_id). On hostile corpora the raw table crashes
    the family three ways — ragged numpy stacks, ANSI int64 dot
    overflow, NaN-ordered top-k ranks (r10 non-finite-vector sweep);
    ill-formed vectors are excluded like NULL text is from the text
    family. Duplicate vec_id rows (r11 randomized fuzz, seed 1) are
    collapsed to the lexicographically-least embedding — without this
    the oracle's GROUP BY signature aggregation SUMS duplicate rows'
    bits while the Spark LSH path signs per-row, and pair multiplicity
    diverges; min() is deterministic, identical on both engines
    (verified: lexicographic on array/list), and map-side combinable
    (one cheap keyed aggregation — at 100 TB entity-key dedup is
    exactly the pre-pass you'd run). Mirrored in SQL by _EMB_SQL in
    every oracle."""
    from fs2_kafka_streams_spark.operators.similarity import (
        well_formed_vectors,
    )

    return (
        Catalog(spark, sf_dir)
        .embeddings.filter(well_formed_vectors("embedding", _EMB_DIM))
        .groupBy("vec_id")
        .agg(F.min("embedding").alias("embedding"))
    )


def _wf_sql() -> str:
    from fs2_kafka_streams_spark.operators.similarity import (
        sql_well_formed_vectors,
    )

    return sql_well_formed_vectors("embedding", _EMB_DIM)


_WF_SQL = _wf_sql()

#: the SQL mirror of ``_emb``: well-formed filter, then one row per
#: vec_id via min(embedding) — a FROM-able derived table every
#: embedding oracle reads instead of the raw ``embeddings`` view.
_EMB_SQL = (
    "(SELECT vec_id, min(embedding) AS embedding FROM embeddings "
    f"WHERE {_WF_SQL} GROUP BY vec_id)"
)


# ---- shared quantized-cosine oracle SQL ------------------------------------
#
# ONE definition of the 1e6 quantizer and of the cosine expression (dot /
# sqrt(left norm) / sqrt(right norm), in exactly the Spark side's IEEE op
# order) — every embedding oracle below composes these, so a change to the
# quantizer or op order cannot silently diverge between entries.

#: embedding → int64 micro-unit list (exact cross-engine dot products).
_QUANT_SQL = (
    "list_transform(embedding,"
    " x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT))"
)


def _cos_sql(a: str, b: str) -> str:
    """Quantized-integer cosine between aliases carrying a ``v`` int list —
    same op order as the Spark side (dot / sqrt(a·a) / sqrt(b·b))."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}.v) + 1),"
        f" i -> {a}.v[i] * {b}.v[i])) AS DOUBLE)"
        f" / sqrt(CAST(list_sum(list_transform(range(1, len({a}.v) + 1),"
        f" i -> {a}.v[i] * {a}.v[i])) AS DOUBLE))"
        f" / sqrt(CAST(list_sum(list_transform(range(1, len({b}.v) + 1),"
        f" i -> {b}.v[i] * {b}.v[i])) AS DOUBLE))"
    )


@query(
    "q44_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, {_QUANT_SQL} AS v
      FROM {_EMB_SQL} WHERE vec_id < {_N_QUERIES}
    ), e AS (
      SELECT vec_id AS neighbor_id, {_QUANT_SQL} AS v
      FROM {_EMB_SQL}
    ), scored AS (
      SELECT query_id, neighbor_id, {_cos_sql('q', 'e')} AS cos
      FROM e CROSS JOIN q
      WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
)
def q44_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for the first 3 query vectors. Embeddings
    quantized to integer micro-units so the dot product is exact — the
    cosine is bit-identical cross-engine."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk(emb, q, k=5)


@query(
    "q44c_embedding_neardup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {_QUANT_SQL} AS v
      FROM {_EMB_SQL}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a', 'b')} AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_cos_sql('a', 'b')} >= 0.4
    """,
    tags=("llm", "similarity", "dedup"),
)
def q44c_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact tier, cosine >= 0.4).
    The quantized-integer cosine makes the pair set bit-identical
    cross-engine. Scale path: q44d (banded LSH, candidates verified)."""
    from fs2_kafka_streams_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    return embedding_neardup_pairs(
        _emb(spark, sf_dir), threshold=0.4
    )


# ---- hyperplane-LSH oracle SQL --------------------------------------------
#
# The hyperplane tiers are fully deterministic: seeded ±1 planes (the same
# LCG stream the Spark operator uses — the first 8 of the 128 planes ARE the
# ANN tier's planes), quantized int64 vectors, and sign-of-dot bits. All of
# it is exact integer arithmetic, so DuckDB replays signatures → bands →
# candidate equi-join → exact-cosine verification bit-for-bit. The planes
# are embedded as 128 compact '+/-' strings, decoded in SQL.


def _planes_sql_literal() -> str:
    from fs2_kafka_streams_spark.operators.similarity import _hyperplanes

    rows = _hyperplanes(64, 128)  # 16 bands × 8 bits
    return "[" + ", ".join(
        "'" + "".join("+" if s == 1 else "-" for s in r) + "'" for r in rows
    ) + "]"


def _hyperplane_ctes() -> str:
    return f"""
    qv AS (
      SELECT vec_id, {_QUANT_SQL} AS v
      FROM {_EMB_SQL}
    ),
    planes AS (
      SELECT b, list_transform(range(1, 65),
               d -> CASE WHEN substr({_planes_sql_literal()}[b + 1], d, 1)
                         = '+' THEN 1 ELSE -1 END) AS p
      FROM (SELECT unnest(range(0, 128)) AS b)
    ),
    hbits AS (
      SELECT vec_id, b,
             CASE WHEN list_sum(list_transform(range(1, 65),
                      d -> v[d] * p[d])) >= 0 THEN 1 ELSE 0 END AS bit
      FROM qv, planes
    ),
    hsigs AS (
      SELECT vec_id, CAST(b // 8 AS INTEGER) AS band,
             CAST(sum(bit * (1 << CAST(b % 8 AS INTEGER))) AS BIGINT) AS sig
      FROM hbits GROUP BY 1, 2
    )"""


def _neardup_lsh_ctes() -> str:
    return f"""
    ndcand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM hsigs a JOIN hsigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    ndp AS (
      SELECT c.id_a, c.id_b, {_cos_sql('a', 'b')} AS cos
      FROM ndcand c
      JOIN qv a ON a.vec_id = c.id_a
      JOIN qv b ON b.vec_id = c.id_b
      WHERE {_cos_sql('a', 'b')} >= 0.4
    )"""


def _ann_lsh_ctes() -> str:
    return f"""
    ab AS (SELECT vec_id, sig FROM hsigs WHERE band = 0),
    anns AS (
      SELECT qb.vec_id AS query_id, eb.vec_id AS neighbor_id,
             {_cos_sql('a', 'b')} AS cos
      FROM ab qb
      JOIN ab eb ON qb.sig = eb.sig AND eb.vec_id <> qb.vec_id
      JOIN qv a ON a.vec_id = qb.vec_id
      JOIN qv b ON b.vec_id = eb.vec_id
      WHERE qb.vec_id < {_N_QUERIES}
    ),
    ann_top AS (
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, cos
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM anns
      ) WHERE rnk <= 5
    )"""


@query(
    "q44d_embedding_neardup_lsh",
    oracle=f"""
    WITH {_hyperplane_ctes()}, {_neardup_lsh_ctes()}
    SELECT id_a, id_b, cos FROM ndp
    """,
    tags=("llm", "similarity", "dedup", "scale"),
)
def q44d_embedding_neardup_lsh(spark, sf_dir):
    """Embedding near-dup via banded hyperplane LSH + exact verification —
    O(n·bands) shuffle instead of O(n²) pairs. Precision 1 by construction;
    the DuckDB oracle replays the full signature→band→verify pipeline
    (hash-checked), and recall vs q44c is asserted in the test suite."""
    from fs2_kafka_streams_spark.operators.similarity import (
        embedding_neardup_pairs_lsh,
    )

    return embedding_neardup_pairs_lsh(
        _emb(spark, sf_dir), threshold=0.4
    )


@query(
    "q44b_lsh_ann",
    oracle=f"""
    WITH {_hyperplane_ctes()}, {_ann_lsh_ctes()}
    SELECT query_id, neighbor_id, rank, cos FROM ann_top
    """,
    tags=("llm", "similarity", "scale"),
)
def q44b_lsh_ann(spark, sf_dir):
    """Hyperplane-LSH approximate neighbors (8 sign-bits → ~1/256 of the
    corpus scored per query). Hash-checked: the oracle recomputes the same
    8 sign-bit buckets; recall vs q44 is asserted in the test suite."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    return lsh_cosine_topk(emb, q, k=5, bits=8)


@query(
    "q44e_ivf_ann",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, {_QUANT_SQL} AS v
      FROM {_EMB_SQL} WHERE vec_id < {_N_QUERIES}
    ), e AS (
      SELECT vec_id AS neighbor_id, {_QUANT_SQL} AS v
      FROM {_EMB_SQL}
    ), scored AS (
      SELECT query_id, neighbor_id, {_cos_sql('q', 'e')} AS cos
      FROM e CROSS JOIN q
      WHERE neighbor_id <> query_id
    )
    SELECT query_id,
           CAST(neighbor_id AS BIGINT) AS exact_top1,
           -- k results per query, bounded by the eligible-neighbor count
           -- (corpus minus self) so a corpus smaller than k still agrees
           -- (r10 tiny-corpus sweep). ASSUMPTION (r10 advisory): every
           -- query vector IS a well-formed corpus member — true here by
           -- construction (q = e filtered to vec_id < N), so "minus
           -- self" is exactly -1 per query; a disjoint query set would
           -- need count(e WHERE neighbor_id <> query_id) per query
           CAST(LEAST(5, (SELECT count(*) FROM e) - 1) AS BIGINT) AS n_ivf,
           TRUE AS ivf_top1_ok,
           TRUE AS recall_ok
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank = 1
    """,
    tags=("llm", "similarity", "scale"),
)
def q44e_ivf_ann(spark, sf_dir):
    """IVF approximate top-k (``operators/similarity.py::ivf_topk``:
    learned spherical-k-means coarse quantizer on a deterministic sample,
    nprobe=4 of nlist=16 cells scored per query) — hash-checked via the
    q64 property-column technique, since the iterative k-means trainer is
    not SQL-expressible: the oracle recomputes the EXACT nearest neighbor
    (quantized-integer cosine, hash-checked per query), and the Spark side
    must additionally prove ``ivf_top1_ok`` (the IVF top-1 equals the
    exact top-1 — the probed cells contain the true neighbor) and
    ``recall_ok`` (IVF recall@5 ≥ 4/5 against the exact top-5) — the
    oracle emits literal TRUE, so an index regression fails the driver
    gate loudly. The full ``nprobe = nlist`` ≡ brute-force identity stays
    asserted in ``tests/test_llm_operators.py``."""
    from fs2_kafka_streams_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    # Both top-k subtrees feed three/two joins below; cut the lineage once
    # so the IVF scoring and brute-force cosine pipelines run once, not per
    # reference (the q42b lesson: multi-referenced subtrees re-execute).
    ivf = ivf_topk(emb, q, k=5, nlist=16, nprobe=4).select(
        "query_id", "neighbor_id", "rank"
    ).transform(lambda d: _materialize(d, eager=False))
    exact = cosine_topk(emb, q, k=5).select(
        "query_id", "neighbor_id", "rank"
    ).transform(lambda d: _materialize(d, eager=False))
    hits = (
        ivf.select("query_id", "neighbor_id")
        .intersect(exact.select("query_id", "neighbor_id"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n_hits"))
    )
    top1 = exact.filter(F.col("rank") == 1).select(
        "query_id", F.col("neighbor_id").alias("exact_top1")
    )
    ivf1 = ivf.filter(F.col("rank") == 1).select(
        "query_id", F.col("neighbor_id").alias("_ivf_top1")
    )
    n_ivf = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ivf"))
    # LEFT joins from the exact top-1 (which always exists): an IVF
    # regression that returns zero candidates or zero overlap must surface
    # as ivf_top1_ok/recall_ok = false — an inner join would instead drop
    # the row and the property columns could never fire.
    # the compare tables are O(queries) rows but sit behind localCheckpoint
    # barriers (no stats → planner defaults to sort-merge, 2 exchanges +
    # sorts per join): broadcast-hint the bounded sides — three BHJs, zero
    # extra exchanges (r11 plan audit)
    return (
        top1.join(F.broadcast(ivf1), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
        .join(F.broadcast(n_ivf), "query_id", "left")
        .select(
            "query_id",
            F.col("exact_top1").cast("bigint"),
            F.coalesce("n_ivf", F.lit(0)).cast("bigint").alias("n_ivf"),
            F.coalesce(
                F.col("_ivf_top1") == F.col("exact_top1"), F.lit(False)
            ).alias("ivf_top1_ok"),
            (F.coalesce("_n_hits", F.lit(0)) >= 4).alias("recall_ok"),
        )
    )


@query(
    "q54_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE {_hyperplane_ctes()}, {_neardup_lsh_ctes()},
    {_cc_ctes("ndp")},
    sizes54 AS (
      SELECT component, CAST(count(*) AS BIGINT) AS n_members
      FROM comp GROUP BY 1
    )
    SELECT comp.id AS vec_id, comp.component,
           (comp.id = comp.component) AS is_kept,
           sizes54.n_members
    FROM comp JOIN sizes54 ON comp.component = sizes54.component
    """,
    tags=("llm", "similarity", "dedup", "clusters", "scale"),
)
def q54_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: hyperplane-LSH near-dup
    pairs (cosine >= 0.4, banded candidates + exact verification) →
    connected components → keep the min-id representative per semantic
    cluster. One row per clustered vector with its cluster label, cluster
    size, and keep/drop decision; vectors with no near-duplicate are
    implicitly kept (join back with coalesce-to-self, as
    ``dedup_keep_best`` does for text dedup).

    Plan: O(n·bands) candidate shuffle (never O(n²)), then logarithmic
    pointer-jumping rounds over the pair list — pairs are O(dups), tiny
    relative to the corpus. The DuckDB oracle replays signature → band →
    verify → min-reachable-id fixed point as a recursive CTE.
    """
    from fs2_kafka_streams_spark.operators.clusters import (
        connected_components,
    )
    from fs2_kafka_streams_spark.operators.similarity import (
        embedding_neardup_pairs_lsh,
    )

    pairs = embedding_neardup_pairs_lsh(
        _emb(spark, sf_dir), threshold=0.4
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return comp.join(sizes, "component").select(
        F.col("id").alias("vec_id"),
        "component",
        (F.col("id") == F.col("component")).alias("is_kept"),
        "n_members",
    )
