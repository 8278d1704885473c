"""Qx: LLM-data-pipeline extension queries (SURVEY.md §2.6).

Dedup (exact / MinHash-LSH / SimHash / fingerprint), similarity search
(brute-force + IVF), text analysis (language-ID, quality, token stats),
and multimodal metadata — each with a DuckDB oracle.

The oracle SQL for the hash-heavy operators is *generated* by the same
Python that parametrizes the Spark plans, so both engines provably
evaluate the same formulas (portable md5-derived hashes, identical
fold orders, identical tie-breaks). See functions/hashing.py for why
md5-derived instead of engine-native hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.functions.hashing import MERSENNE31
from gh_archive_clickhouse_spark.operators.dedup import (
    dedup_exact_text,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_jaccard,
    simhash,
    simhash_candidate_pairs,
    verify_candidates,
)
from gh_archive_clickhouse_spark.operators._util import (
    ensure_parallelism,
    local_rows_df,
)
from gh_archive_clickhouse_spark.operators.multimodal import attach_binary_payload
from gh_archive_clickhouse_spark.operators.similarity import (
    NEARDUP_MAX_BLOCK,
    cosine_topk,
    ivf_assign,
    near_duplicate_pairs,
    srp_bucket,
)
from gh_archive_clickhouse_spark.operators.udf_ops import (
    doc_bigrams,
    token_quantiles,
    user_event_ranks,
)
from gh_archive_clickhouse_spark.operators.text_analysis import (
    BPE_MAX_WORD_LEN,
    BPE_WORD_RE,
    deterministic_sample,
    fingerprint,
    language_id,
    quality_score,
    token_lang_stats,
)
from gh_archive_clickhouse_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    tokens,
)
from gh_archive_clickhouse_spark.plans.common import (
    Query,
    materialize,
    read,
    snapshot_result,
)

# ---------------------------------------------------------------- SQL
# generators: DuckDB fragments mirroring functions/hashing + text.

# distinct non-empty single-space tokens
_SQL_TOKENS = "list_filter(string_split({col}, ' '), x -> x != '')"
# 60-bit md5-derived hash of a string expression
_SQL_MD5LONG = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_P = MERSENNE31


def _sql_word_hash31(x: str) -> str:
    return f"({_SQL_MD5LONG.format(x=x)} % {_P})"


def _sql_shingles(col: str, k: int) -> str:
    """Distinct k-word shingles of a text column, as a DuckDB list."""
    toks = _SQL_TOKENS.format(col=col)
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(generate_series(1, len({toks}) - {k - 1}), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' ')) "
        f"ELSE [] END)"
    )


def _sql_minhash_elems(num_hashes: int) -> list[str]:
    """Per-i min-hash expressions over a hashed-shingle list column sh
    (31-bit hashes); COALESCE to p for empty shingle sets."""
    elems = []
    for i in range(num_hashes):
        a, b = 2 * i + 1, 12345 * i + 17
        elems.append(
            f"COALESCE(list_aggregate(list_transform(sh, "
            f"x -> ({a} * x + {b}) % {_P}), 'min'), {_P})"
        )
    return elems


def _sql_band_key(band: int, rows_per_band: int) -> str:
    """Horner fold of one LSH band over minhash columns mh0..mhN."""
    acc = "0"
    for r in range(rows_per_band):
        acc = f"(({acc}) * 31 + mh{band * rows_per_band + r}) % {_P}"
    return acc


def _sql_cosine(e1: str, e2: str) -> str:
    """Double-precision cosine of two DOUBLE[] expressions (sequential
    fold order matches Spark's aggregate/zip_with)."""
    dot = f"list_aggregate(list_transform({e1}, (x,i) -> x * ({e2})[i]), 'sum')"
    n1 = f"sqrt(list_aggregate(list_transform({e1}, x -> x*x), 'sum'))"
    n2 = f"sqrt(list_aggregate(list_transform({e2}, x -> x*x), 'sum'))"
    return f"({dot} / ({n1} * {n2}))"


# ------------------------------------------------------------ builders


def qx1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents")
    return dedup_exact_text(docs).select("doc_id", "text_sha", "lang")


def qx2_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    return cosine_topk(emb, query, k=10, dim=EMB_DIM)


# Fixture embedding dimension (FIXTURES.md: embeddings.embedding is a
# fixed 64-dim array<float>). Known dim lets the vector kernels unroll
# into whole-stage-codegen arithmetic instead of interpreted folds.
EMB_DIM = 64


def qx3_token_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_lang_stats(read(spark, sf_dir, "documents"))


def qx4_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(read(spark, sf_dir, "documents"))


def qx5_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(read(spark, sf_dir, "documents"))


def qx6_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(read(spark, sf_dir, "documents"))


def qx7_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(read(spark, sf_dir, "documents"))


def qx8_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(read(spark, sf_dir, "documents"))
    return sigs.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform(F.col("minhash"), lambda m: m.cast("string"))
        ).alias("sig"),
    )


def qx9_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs + exact shingle-Jaccard verification.

    The pair space is generated by band buckets (never n²); the
    verification join re-reads only candidate docs' shingle sets.
    """
    docs = read(spark, sf_dir, "documents")
    # Materialize signatures before the bucket self-join: Spark plans
    # each side of a self-join independently (no ReusedExchange across
    # the aliases here), so without this the full tokenize+hash+agg
    # pipeline runs twice. `materialize` computes it once and serves
    # both sides — the "write the signature table" step of a real LSH
    # index build (durable parquet form via SPARK_GRAFT_MATERIALIZE_DIR).
    sigs = materialize(minhash_signatures(docs), "qx9_sigs")
    # The band self-join re-derives from the MATERIALIZED signatures
    # per consumer (candidate-id scan + verify join) — that recompute
    # is a cheap bucket join, and skipping a second checkpoint barrier
    # keeps the whole query a two-job pipeline.
    return verify_candidates(docs, lsh_candidate_pairs(sigs))


def qx10_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read(spark, sf_dir, "embeddings")
    return near_duplicate_pairs(emb, threshold=0.5, dim=EMB_DIM)


QX54_CAP = 50


def qx54_subdivided_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with AUTOMATIC hot-block subdivision
    (operators/similarity.near_duplicate_pairs_subdivided): the cap's
    production closure — over-cap label blocks are sub-blocked by the
    deterministic SRP bucket (the qx14 planes) and paired within
    (label, bucket) instead of being dropped. The cap is set to 50 so
    the fixture genuinely exercises BOTH paths (4 of 10 labels are hot
    at sf0.01; all at sf0.1). The oracle mirrors the full decision
    tree: cold-block pairs + SRP-sub-blocked hot pairs with the inner
    cap re-applied to degenerate sub-blocks."""
    from gh_archive_clickhouse_spark.operators.similarity import (
        near_duplicate_pairs_subdivided,
    )

    emb = read(spark, sf_dir, "embeddings")
    return near_duplicate_pairs_subdivided(
        emb, SRP_SIGNS, threshold=0.35, dim=EMB_DIM,
        max_block_size=QX54_CAP,
    )


def qx11_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("c"),
    )
    return ivf_assign(emb, centroids, dim=EMB_DIM)


def qx12_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe: search only the query vector's IVF cluster.

    At scale the assignment is a partitioned index (partitionBy
    cluster_id) and this probe is a partition-pruned scan of
    ~1/n_clusters of the data instead of a full sweep.
    """
    emb = read(spark, sf_dir, "embeddings")
    # The assignment is the (one-off) index build — materialize it so
    # the probe's two uses (query row + cluster members) don't run the
    # centroid-scoring aggregate twice.
    assigned = materialize(qx11_ivf_assign(spark, sf_dir), "qx12_ivf_assign")
    with_cluster = emb.join(assigned, "vec_id")
    qrow = with_cluster.filter(F.col("vec_id") == 42).select(
        F.col("embedding").alias("q"), F.col("cluster_id").alias("qc")
    )
    cluster_members = with_cluster.crossJoin(F.broadcast(qrow)).filter(
        F.col("cluster_id") == F.col("qc")
    )
    from gh_archive_clickhouse_spark.functions.vectors import cosine_similarity

    scored = cluster_members.select(
        "vec_id",
        F.round(cosine_similarity("embedding", "q"), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(5)


# SRP hyperplanes: 8 planes × 64 dims of deterministic ±1, derived
# from md5 so the DuckDB oracle below can inline the SAME literals.
import hashlib as _hashlib

_SRP_PLANES = 8
_SRP_DIMS = 64
SRP_SIGNS: list[list[int]] = [
    [
        1
        if int(_hashlib.md5(f"srp_{p}_{d}".encode()).hexdigest(), 16) % 2 == 1
        else -1
        for d in range(_SRP_DIMS)
    ]
    for p in range(_SRP_PLANES)
]


def qx13_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded blocking + Hamming ≤ 3 verify.

    Signatures are materialized (see plans/common.materialize) before the
    banded self-join so the fingerprint aggregate runs once, not once
    per join side — the scale analog of persisting the fingerprint
    table before pairing.
    """
    sigs = materialize(
        simhash(read(spark, sf_dir, "documents")), "qx13_fingerprints"
    )
    return simhash_candidate_pairs(sigs)


def qx14_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucket assignment for every embedding (map-only)."""
    emb = read(spark, sf_dir, "embeddings")
    return srp_bucket(emb, SRP_SIGNS).select("vec_id", "bucket")


def qx15_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe via SRP-LSH: top-5 cosine within the query's bucket.

    The bucketed analog of qx12's IVF probe — at scale the index is
    written partitionBy(bucket) and this is a partition-pruned scan.
    """
    from gh_archive_clickhouse_spark.functions.vectors import cosine_similarity

    emb = read(spark, sf_dir, "embeddings")
    bucketed = srp_bucket(emb, SRP_SIGNS)
    qrow = bucketed.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("q"), F.col("bucket").alias("qb")
    )
    members = bucketed.crossJoin(F.broadcast(qrow)).filter(
        F.col("bucket") == F.col("qb")
    )
    scored = members.select(
        "vec_id",
        F.round(cosine_similarity("embedding", "q"), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(5)


def qx16_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas grouped-agg UDAF surface (§2.4): per-lang token quantiles."""
    return token_quantiles(read(spark, sf_dir, "documents"))


def qx17_user_event_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map surface (§2.4): per-user event ranks."""
    from gh_archive_clickhouse_spark.plans.common import ts_fmt

    ranked = user_event_ranks(read(spark, sf_dir, "events"), user_mod=7)
    return ranked.select(
        "user_id",
        "event_id",
        ts_fmt("ts").alias("ts_s"),
        "value",
        "user_rank",
    )


def qx18_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.4): lateral bigram expansion."""
    return doc_bigrams(read(spark, sf_dir, "documents"))


def qm1_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(docs)
    return with_payload.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha").alias("sha"),
    )


def qm2_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode surface: Arrow-batched feature extraction
    over binary payloads (deterministic fake decode — see
    operators/multimodal.py for where real codecs plug in)."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        extract_image_features,
    )

    docs = read(spark, sf_dir, "documents")
    return extract_image_features(attach_binary_payload(docs))


def qx19_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (whitespace + BPE-ish regex): the
    pre-tokenization cost estimate every training-data pipeline runs.
    Pure codegen regexp — the pattern (letter runs | digit runs |
    single punctuation) is dialect-portable between Java regex and
    DuckDB's RE2."""
    docs = read(spark, sf_dir, "documents")
    n_ws = F.size(tokens(F.col("text")))
    n_bpe = F.expr("regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')")
    return docs.select(
        "doc_id",
        n_ws.cast("int").alias("n_ws_tokens"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
        F.when(
            n_ws > 0, n_bpe.cast("double") / n_ws
        ).alias("bpe_per_ws"),
    )


def qx20_chargram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character n-gram Jaccard near-dup: MinHash-LSH over char
    4-grams (same banded machinery as qx9, different granularity —
    char grams catch near-dups that word shingles miss: punctuation
    edits, concatenations, whitespace damage).

    Signatures materialize once (plans/common.materialize) before the
    banded self-join; candidates then verify with the exact char-gram
    Jaccard."""
    docs = read(spark, sf_dir, "documents")
    sigs = materialize(
        minhash_signatures(docs, shingle_k=4, kind="char"), "qx20_sigs"
    )
    # Char grams are far less selective than word shingles, so the
    # banding is 2 bands x 8 rows (LSH threshold (1/2)^(1/8) ~ 0.92)
    # instead of qx9's 4x4 (~0.71) — candidate volume stays near the
    # true near-dup count instead of exploding template-sharing docs.
    pairs = lsh_candidate_pairs(sigs, bands=2, rows_per_band=8)
    scored = verify_candidates(docs, pairs, shingle_k=4, kind="char")
    return scored.filter(F.col("jaccard") >= 0.7)




def qx21_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep 50% of 'en' docs, 20%
    of every other language, decided by hash(salt, doc_id) — the
    reproducible mixture-weighting step of corpus curation. The
    per-language sums/extremes of sampled ids witness the exact
    membership against the oracle, not just the counts."""
    docs = read(spark, sf_dir, "documents")
    sampled = deterministic_sample(docs, {"en": 50}, default_rate=20)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("sum_id"),
    )


# -------------------------------------------------------------- oracle


_TOKS = _SQL_TOKENS.format(col="text")
_DTOKS = f"list_distinct({_TOKS})"


def _sql_str_list(items: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{s}'" for s in items) + "]"


_lang_score_rows = " UNION ALL ".join(
    f"SELECT doc_id, '{lang}' AS lang, "
    f"len(list_filter(toks, t -> list_contains({_sql_str_list(LANG_MARKERS[lang])}, t)))"
    f" AS score FROM docs"
    for lang in sorted(LANG_MARKERS)
)
_ORACLE_QX4 = f"""
WITH docs AS (SELECT doc_id, {_DTOKS} AS toks FROM documents),
scores AS (
  {_lang_score_rows}
),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rk
  FROM scores
)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
       CAST(greatest(score, 0) AS INTEGER) AS score
FROM best WHERE rk = 1
"""

_STOP_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

_ORACLE_QX5 = f"""
WITH feats AS (
  SELECT doc_id,
         {_TOKS} AS toks,
         length(text) AS nch,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS npunct,
         length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS nalpha
  FROM documents
), d AS (
  SELECT doc_id, len(toks) AS ntok,
         CASE WHEN len(toks) > 0 THEN
           CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
                AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_tok_len,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, t -> list_contains({_STOP_LIST_SQL}, t)))
                AS DOUBLE) / len(toks) ELSE 0.0 END AS stop_ratio,
         CASE WHEN nch > 0 THEN CAST(npunct AS DOUBLE) / nch ELSE 0.0 END AS punct_ratio,
         CASE WHEN nch > 0 THEN CAST(nalpha AS DOUBLE) / nch ELSE 0.0 END AS alpha_ratio
  FROM feats
)
SELECT doc_id,
       CAST(ntok AS INTEGER) AS n_tokens,
       mean_tok_len AS mean_token_len,
       stop_ratio AS stopword_ratio,
       punct_ratio AS punct_ratio,
       alpha_ratio AS alpha_ratio,
       0.4 * least(CAST(ntok AS DOUBLE) / 64.0, 1.0)
           + 0.3 * alpha_ratio
           + 0.2 * (1.0 - abs(stop_ratio - 0.3))
           + 0.1 * (1.0 - punct_ratio) AS quality
FROM d
"""

_ORACLE_QX6 = f"""
WITH d AS (
  SELECT doc_id,
         list_transform(({_TOKS})[1:32], t -> {_sql_word_hash31('t')}) AS hs
  FROM documents
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                   (a, b) -> (a * 131 + b) % {_P}) AS fingerprint
FROM d
"""

_SIMHASH_BITS = 60
_simhash_terms = " + ".join(
    f"(CASE WHEN list_aggregate(list_transform(wh, h -> CASE WHEN (h >> {b}) & 1 = 1 "
    f"THEN 1 ELSE -1 END), 'sum') > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
    for b in range(_SIMHASH_BITS)
)
_ORACLE_QX7 = f"""
WITH d AS (
  SELECT doc_id,
         list_transform({_DTOKS}, w -> {_SQL_MD5LONG.format(x='w')}) AS wh
  FROM documents
)
SELECT doc_id, CAST({_simhash_terms} AS BIGINT) AS simhash FROM d
"""

_MINHASH_K = 16
_mh_elems = _sql_minhash_elems(_MINHASH_K)
_ORACLE_QX8 = f"""
WITH sh AS (
  SELECT doc_id,
         list_transform({_sql_shingles('text', 3)}, s -> {_sql_word_hash31('s')}) AS sh
  FROM documents
)
SELECT doc_id,
       array_to_string([{', '.join(_mh_elems)}], ',') AS sig
FROM sh
"""

_BANDS, _RPB = 4, 4
_mh_cols = ",\n         ".join(
    f"{e} AS mh{i}" for i, e in enumerate(_mh_elems)
)
# Shingle-less docs carry the sentinel signature and are excluded from
# banding on the Spark side (operators/dedup.py lsh_candidate_pairs);
# the oracle must mirror that or short/empty docs would pair here.
_band_rows = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, {_sql_band_key(b, _RPB)} AS band_key "
    f"FROM sigs WHERE len(shs) >= 1"
    for b in range(_BANDS)
)
_ORACLE_QX9 = f"""
WITH shl AS (
  SELECT doc_id, {_sql_shingles('text', 3)} AS shs FROM documents
), hashed AS (
  SELECT doc_id, shs, list_transform(shs, s -> {_sql_word_hash31('s')}) AS sh
  FROM shl
), sigs AS (
  SELECT doc_id, shs,
         {_mh_cols}
  FROM hashed
), bands AS (
  {_band_rows}
), pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(a.shs, s -> list_contains(b.shs, s))) AS DOUBLE)
             / (len(a.shs) + len(b.shs)
                - len(list_filter(a.shs, s -> list_contains(b.shs, s))))
             AS jaccard
FROM pairs
JOIN sigs a ON a.doc_id = doc_a
JOIN sigs b ON b.doc_id = doc_b
"""

_SIM_BANDS, _SIM_BAND_BITS, _SIM_MAXHAM = 4, 15, 3
# fingerprint 0 is the empty-doc sentinel, excluded from banding on the
# Spark side (operators/dedup.py simhash_candidate_pairs) — mirror it.
_sim_band_rows = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {b} AS band_id, "
    f"(simhash >> {b * _SIM_BAND_BITS}) & {(1 << _SIM_BAND_BITS) - 1} AS band_key "
    f"FROM fp WHERE simhash <> 0"
    for b in range(_SIM_BANDS)
)
_ORACLE_QX13 = f"""
WITH d AS (
  SELECT doc_id,
         list_transform({_DTOKS}, w -> {_SQL_MD5LONG.format(x='w')}) AS wh
  FROM documents
), fp AS (
  SELECT doc_id, CAST({_simhash_terms} AS BIGINT) AS simhash FROM d
), bands AS (
  {_sim_band_rows}
), pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM pairs
JOIN fp a ON a.doc_id = doc_a
JOIN fp b ON b.doc_id = doc_b
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIM_MAXHAM}
"""


def _sql_srp_proj(p: int) -> str:
    signs = "[" + ", ".join(f"{s}.0" for s in SRP_SIGNS[p]) + "]"
    return (
        f"list_aggregate(list_transform(ed, (x,i) -> x * ({signs})[i]), 'sum')"
    )


_srp_bucket_sql = " + ".join(
    f"(CASE WHEN {_sql_srp_proj(p)} > 0 THEN {1 << p} ELSE 0 END)"
    for p in range(_SRP_PLANES)
)
_ORACLE_QX14 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings)
SELECT vec_id, CAST({_srp_bucket_sql} AS INTEGER) AS bucket FROM e
"""

_ED = "CAST(embedding AS DOUBLE[])"
_ORACLE_QX2 = f"""
WITH q AS (SELECT {_ED} AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round({_sql_cosine(_ED, 'qe')}, 6) AS cos_sim
FROM embeddings, q
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""

# Mirrors near_duplicate_pairs' hot-block cap: interpolating
# NEARDUP_MAX_BLOCK keeps the cap single-sourced, so the oracles can
# never desynchronize from the operator.
_SQL_COLD_BLOCKS = (
    "SELECT label FROM embeddings GROUP BY label "
    f"HAVING count(*) <= {NEARDUP_MAX_BLOCK}"
)

_ORACLE_QX10 = f"""
WITH e AS (SELECT vec_id, label, {_ED} AS ed FROM embeddings
           WHERE label IN ({_SQL_COLD_BLOCKS}))
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_sql_cosine('a.ed', 'b.ed')}, 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_sql_cosine('a.ed', 'b.ed')}, 6) >= 0.5
"""

# qx54: the full subdivision decision tree — cold-block pairs as in
# qx10 (at the qx54 cap), hot-block members re-bucketed by the qx14
# SRP projection and paired within (label, bucket), degenerate
# sub-blocks re-excluded by the same cap.
_ORACLE_QX54 = f"""
WITH e AS (SELECT vec_id, label, {_ED} AS ed FROM embeddings),
hot AS (SELECT label FROM e GROUP BY label HAVING count(*) > {QX54_CAP}),
cold AS (SELECT * FROM e WHERE label NOT IN (SELECT label FROM hot)),
cp AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_sql_cosine('a.ed', 'b.ed')}, 6) AS cos_sim
  FROM cold a JOIN cold b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({_sql_cosine('a.ed', 'b.ed')}, 6) >= 0.35
),
hotv AS (
  SELECT vec_id, label, ed, CAST({_srp_bucket_sql} AS INTEGER) AS bucket
  FROM e WHERE label IN (SELECT label FROM hot)
),
okblk AS (
  SELECT label, bucket FROM hotv GROUP BY label, bucket
  HAVING count(*) <= {QX54_CAP}
),
hv AS (SELECT h.* FROM hotv h JOIN okblk USING (label, bucket)),
hp AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_sql_cosine('a.ed', 'b.ed')}, 6) AS cos_sim
  FROM hv a JOIN hv b
    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round({_sql_cosine('a.ed', 'b.ed')}, 6) >= 0.35
)
SELECT * FROM cp UNION ALL SELECT * FROM hp
"""

_ORACLE_QX11 = f"""
WITH c AS (SELECT CAST(vec_id AS INTEGER) AS centroid_id, {_ED} AS cd
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         round({_sql_cosine('CAST(e.embedding AS DOUBLE[])', 'c.cd')}, 6) AS sim
  FROM embeddings e, c
), best AS (
  SELECT vec_id, centroid_id, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rk
  FROM scored
)
SELECT vec_id, centroid_id AS cluster_id FROM best WHERE rk = 1
"""

_ORACLE_QX15 = f"""
WITH e AS (SELECT vec_id, {_ED} AS ed FROM embeddings),
b AS (
  SELECT vec_id, ed, CAST({_srp_bucket_sql} AS INTEGER) AS bucket FROM e
), q AS (SELECT ed AS qe, bucket AS qb FROM b WHERE vec_id = 7)
SELECT vec_id, round({_sql_cosine('ed', 'qe')}, 6) AS cos_sim
FROM b, q
WHERE bucket = qb
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 5
"""

_ORACLE_QX12 = f"""
WITH c AS (SELECT CAST(vec_id AS INTEGER) AS centroid_id, {_ED} AS cd
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, {_ED.replace('embedding', 'e.embedding')} AS ed, c.centroid_id,
         round({_sql_cosine('CAST(e.embedding AS DOUBLE[])', 'c.cd')}, 6) AS sim
  FROM embeddings e, c
), assigned AS (
  SELECT vec_id, ed, centroid_id AS cluster_id FROM (
    SELECT vec_id, ed, centroid_id, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rk
    FROM scored) WHERE rk = 1
), q AS (SELECT ed AS qe, cluster_id AS qc FROM assigned WHERE vec_id = 42)
SELECT vec_id, round({_sql_cosine('ed', 'qe')}, 6) AS cos_sim
FROM assigned, q
WHERE cluster_id = qc
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 5
"""


def _sql_char_shingles(col: str, k: int) -> str:
    """Distinct character k-grams of a text column, as a DuckDB list."""
    return (
        f"list_distinct(CASE WHEN length({col}) >= {k} THEN "
        f"list_transform(generate_series(1, length({col}) - {k - 1}), "
        f"i -> substr({col}, i, {k})) ELSE [] END)"
    )


_CG_BANDS, _CG_RPB = 2, 8
# Same sentinel exclusion as _band_rows: gram-less docs never band.
_cg_band_rows = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, {_sql_band_key(b, _CG_RPB)} AS band_key "
    f"FROM sigs WHERE len(shs) >= 1"
    for b in range(_CG_BANDS)
)
_ORACLE_QX20 = f"""
WITH shl AS (
  SELECT doc_id, {_sql_char_shingles('text', 4)} AS shs FROM documents
), hashed AS (
  SELECT doc_id, shs, list_transform(shs, s -> {_sql_word_hash31('s')}) AS sh
  FROM shl
), sigs AS (
  SELECT doc_id, shs,
         {_mh_cols}
  FROM hashed
), bands AS (
  {_cg_band_rows}
), pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(a.shs, s -> list_contains(b.shs, s))) AS DOUBLE)
             / (len(a.shs) + len(b.shs)
                - len(list_filter(a.shs, s -> list_contains(b.shs, s))))
             AS jaccard
FROM pairs
JOIN shl a ON a.doc_id = doc_a
JOIN shl b ON b.doc_id = doc_b
WHERE CAST(len(list_filter(a.shs, s -> list_contains(b.shs, s))) AS DOUBLE)
            / (len(a.shs) + len(b.shs)
               - len(list_filter(a.shs, s -> list_contains(b.shs, s))))
            >= 0.7
"""


def qx22_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms — domain/keyword signal for training
    mixes. Ranked by the 6-dp-rounded tf·idf score (df, term
    tiebreaks); see operators/text_analysis.tfidf_top_terms for the
    scale shape."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    return tfidf_top_terms(read(spark, sf_dir, "documents"), k=3)


def qx23_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: share of each doc's distinct word
    8-grams that appear in the 'benchmark' split (source = src0).
    Benchmark grams broadcast; corpus side is map-only + one agg."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        ngram_contamination,
    )

    docs = read(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=8,
    )


def qx24_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (max-abs
    scale): map-only, integer-exact checksums in the output."""
    from gh_archive_clickhouse_spark.operators.similarity import quantize_int8

    return quantize_int8(read(spark, sf_dir, "embeddings"))


def qm3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame-sampling plumbing: payloads exploded into every-4th
    64-char frame fingerprints via mapInPandas (fake decode; see
    operators/multimodal.sample_frames)."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = read(spark, sf_dir, "documents")
    return sample_frames(
        attach_binary_payload(docs), frame_chars=64, every_nth=4
    )


def qm4_resize_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas resize contract (binary-in/binary-out, stub kernel):
    verified via payload length + stamped output dims — the schema a
    real codec kernel drops into (operators/multimodal.resize_images)."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_binary_payload,
        resize_images,
    )

    docs = read(spark, sf_dir, "documents")
    resized = resize_images(attach_binary_payload(docs), 224, 224)
    return resized.select(
        "doc_id",
        "out_width",
        "out_height",
        F.octet_length("payload").alias("n_bytes"),
    )


def qx25_kmeans_ivf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer BUILD: 2 Lloyd iterations of spherical
    k-means (k=8, deterministic init/ties, DECIMAL-exact means) —
    the iterative-algorithm surface of the engine. Output: final
    centroid components + cluster sizes."""
    from gh_archive_clickhouse_spark.operators.similarity import kmeans_fit

    emb = read(spark, sf_dir, "embeddings")
    return kmeans_fit(emb, k=8, iters=2, dim=EMB_DIM)


def qm5_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing: per-256-sample-window mean/RMS features
    via mapInPandas row-explode (fake decode reads code points as the
    sample stream — operators/multimodal.audio_frame_features)."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_binary_payload,
        audio_frame_features,
    )

    docs = read(spark, sf_dir, "documents")
    return audio_frame_features(attach_binary_payload(docs), window=256)


def qm6_real_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: per row, build an 8×8 grayscale
    PNG whose pixel i is (doc_id*31 + i) % 256, then decode the BYTES
    back through the actual codec path (Pillow when installed, the
    pure-stdlib PNG decoder otherwise) and emit decoded dims + mean
    pixel. Two chained Arrow map stages, no shuffle; the oracle is the
    closed form of the pixel generator — so any decode error (wrong
    filter reconstruction, stride bug, channel mixup) hash-fails."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_png_payload,
        decode_image_features,
    )

    docs = read(spark, sf_dir, "documents")
    return decode_image_features(attach_png_payload(docs))


def qm7_image_dedup_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE-LEVEL dedup by perceptual average-hash over REAL decoded
    pixels: build each row's 8x8 PNG, decode it back through the
    actual codec path, threshold pixels against the image mean into a
    64-bit signature, and elect the min-doc_id representative per
    identical signature — the multimodal twin of qx1's text dedup.
    The pixel generator repeats every 256 doc_ids, so genuine
    duplicate images exist and must collapse. Oracle: the pixel
    closed form evaluated in SQL."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_png_payload,
        perceptual_ahash,
    )
    from pyspark.sql import Window

    docs = read(spark, sf_dir, "documents")
    hashed = perceptual_ahash(attach_png_payload(docs))
    w = Window.partitionBy("ahash")
    return hashed.select(
        "doc_id",
        "ahash",
        F.min("doc_id").over(w).alias("image_rep"),
    )


def qm8_real_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: per row, write a genuine mono
    16-bit PCM RIFF/WAV blob (stdlib ``wave`` writer; sample i =
    ((doc_id*31 + i*7) % 4096) - 2048 over 64 + (doc_id % 4)*32
    frames), then decode the BYTES back through the actual codec path
    (soundfile when installed, stdlib ``wave`` parse otherwise) and
    emit header fields + integer-exact sample checksums. Two chained
    Arrow map stages, no shuffle; the oracle is the closed form of the
    sample generator — so any decode error (header misparse, endian or
    sign mixup, frame miscount) hash-fails. The audio twin of qm6."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_wav_payload,
        decode_audio_features,
    )

    docs = read(spark, sf_dir, "documents")
    return decode_audio_features(attach_wav_payload(docs))


_ORACLE_QM8 = """
WITH s AS (
  SELECT doc_id,
         list_transform(range(0, 64 + (doc_id % 4) * 32),
           i -> (doc_id * 31 + i * 7) % 4096 - 2048) AS smp
  FROM documents
)
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(len(smp) AS INTEGER) AS n_samples,
       CAST(list_aggregate(smp, 'sum') AS BIGINT) AS sum_code,
       CAST(list_aggregate(list_transform(smp, x -> x * x), 'sum')
            AS BIGINT) AS sum_sq,
       CAST(list_min(smp) AS INTEGER) AS min_code,
       CAST(list_max(smp) AS INTEGER) AS max_code
FROM s
"""


def qm9_real_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end-to-end: per row, write a genuine mono
    8×4 Y4M (yuv4mpeg2) stream with ``2 + (doc_id % 3)`` frames whose
    frame-f luma byte i is ``(doc_id*31 + f*17 + i) % 256``, then
    decode the BYTES back through the actual container path (PyAV
    when installed, the pure-stdlib Y4M parser otherwise — Y4M frames
    are uncompressed, so the parse IS the decode) and emit one row
    per frame with integer-exact luma checksums. Two chained Arrow
    map stages (row-exploding on the decode side), no shuffle; the
    oracle is the closed form of the pixel generator — so any decode
    error (header misparse, frame-boundary drift, plane-size mixup)
    hash-fails. The video twin of qm6/qm8, replacing the last
    fake-decode holdout."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_y4m_payload,
        decode_video_features,
    )

    docs = read(spark, sf_dir, "documents")
    return decode_video_features(attach_y4m_payload(docs))


# Per (doc, frame) the 32 luma bytes are the contiguous run
# base..base+31 mod 256 with base = (doc*31 + f*17) % 256, so the
# stats close over: k = max(0, base+32-256) values wrap past 255;
# sum = 32*base + (0+..+31) - 256*k; min/max follow from whether the
# run wrapped.
_ORACLE_QM9 = """
WITH f AS (
  SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS fi
  FROM documents
), b AS (
  SELECT doc_id, fi, (doc_id * 31 + fi * 17) % 256 AS base,
         greatest(0, (doc_id * 31 + fi * 17) % 256 + 32 - 256) AS k
  FROM f
)
SELECT doc_id,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST(8 AS INTEGER) AS width,
       CAST(4 AS INTEGER) AS height,
       CAST(32 * base + 496 - 256 * k AS BIGINT) AS sum_px,
       CAST(CASE WHEN k > 0 THEN 0 ELSE base END AS INTEGER) AS min_px,
       CAST(CASE WHEN k > 0 THEN 255 ELSE base + 31 END
            AS INTEGER) AS max_px
FROM b
"""


_ORACLE_QM7 = """
WITH px AS (
  SELECT doc_id,
         list_transform(range(0, 64),
           i -> CAST((doc_id * 31 + i) % 256 AS DOUBLE)) AS p
  FROM documents
), h AS (
  SELECT doc_id,
         list_aggregate(list_transform(p, x ->
           CASE WHEN x >= list_aggregate(p, 'sum') / 64.0
                THEN '1' ELSE '0' END), 'string_agg', '') AS ahash
  FROM px
)
SELECT doc_id, ahash,
       min(doc_id) OVER (PARTITION BY ahash) AS image_rep
FROM h
"""


def qx26_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the verified LSH
    near-dup pairs (jaccard >= 0.7) — pair detection to canonical-doc
    election (operators/dedup.connected_components)."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        connected_components,
    )

    pairs = qx9_lsh_candidates(spark, sf_dir).filter(
        F.col("jaccard") >= 0.7
    )
    return connected_components(pairs)


_ORACLE_QX26 = """
        WITH RECURSIVE pairs AS (
          SELECT doc_a, doc_b FROM ({qx9}) WHERE jaccard >= 0.7
        ), edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs
        ), nodes AS (
          SELECT DISTINCT src AS node FROM edges
        ), reach AS (
          SELECT node, node AS label FROM nodes
          UNION
          SELECT e.src AS node, r.label
          FROM edges e JOIN reach r ON e.dst = r.node
        )
        SELECT node AS doc_id, min(label) AS cluster_rep
        FROM reach GROUP BY node
""".format(qx9=_ORACLE_QX9)


def qx56_quality_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical corpus (operators/dedup.
    dedup_survivors_by): the qx31 cut upgraded to the policy
    production curation actually wants — each duplicate cluster keeps
    its HIGHEST-quality member (qx5's blend; ties → lowest id), not
    whichever copy happened to be crawled first. Same CC + anti-join
    shape plus one per-cluster deterministic argmax (max_by over a
    (score, -id) struct — map-side-combinable, one row per
    cluster)."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors_by,
    )
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        quality_score,
    )

    docs = read(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality")
    pairs = qx9_lsh_candidates(spark, sf_dir).filter(
        F.col("jaccard") >= 0.7
    )
    return dedup_survivors_by(scored, pairs, "quality")


_ORACLE_QX56 = f"""
WITH q AS (SELECT doc_id, quality FROM ({_ORACLE_QX5})),
cc AS ({{qx26}}),
m AS (
  SELECT cc.doc_id, cc.cluster_rep, q.quality
  FROM cc JOIN q USING (doc_id)
), ranked AS (
  SELECT cluster_rep, doc_id,
         row_number() OVER (
           PARTITION BY cluster_rep
           ORDER BY quality DESC, doc_id ASC) AS rk
  FROM m
), drops AS (
  SELECT m.doc_id
  FROM m JOIN ranked b
    ON m.cluster_rep = b.cluster_rep AND b.rk = 1
  WHERE m.doc_id <> b.doc_id
)
SELECT doc_id, quality FROM q
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""
_ORACLE_QX56 = _ORACLE_QX56.format(qx26=_ORACLE_QX26)


# Dialect-portable PII patterns (same semantics in Java regex and
# DuckDB's RE2): no lookarounds, no \b word boundaries.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
_PII_PHONE = "[+][0-9]{7,15}"


def qx27_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass — the compliance scrub every training-data
    pipeline runs before anything else. Map-only codegen: per-doc
    match counts per class and the scrubbed text's hash (emails ->
    <EMAIL>, IPv4 -> <IP>, then +intl phone -> <PHONE>)."""
    docs = read(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.expr(f"regexp_count(text, '{_PII_EMAIL}')")
        .cast("int")
        .alias("n_email"),
        F.expr(f"regexp_count(text, '{_PII_IPV4}')")
        .cast("int")
        .alias("n_ip"),
        F.expr(f"regexp_count(text, '{_PII_PHONE}')")
        .cast("int")
        .alias("n_phone"),
        F.md5(F.encode(scrubbed, "UTF-8")).alias("scrubbed_md5"),
    )


def qx28_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-(source, lang) counts, corpus
    share, and the resampling weight that would flatten sources to a
    uniform target — the mixing computation behind every training-data
    recipe. Two tiny aggregates + a broadcast of the totals row."""
    docs = read(spark, sf_dir, "documents")
    # ONE corpus pass: the (source, lang) counts determine everything,
    # so the per-source and grand totals re-aggregate the materialized
    # O(sources×langs) table instead of paying two more corpus scans
    # (exact: integer count sums; count_distinct over the group keys
    # equals count_distinct over the rows).
    per = materialize(
        docs.groupBy("source", "lang").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "qx28_per",
    )
    per_source = per.groupBy("source").agg(
        F.sum("n").alias("n_source")
    )
    totals = per.agg(
        F.sum("n").alias("n_total"),
        F.count_distinct("source").alias("n_sources"),
    )
    return (
        per.join(per_source, "source")
        .crossJoin(F.broadcast(totals))
        .select(
            "source",
            "lang",
            "n",
            (F.col("n") / F.col("n_total").cast("double")).alias(
                "share"
            ),
            # weight to flatten sources: target per-source share is
            # 1/n_sources of the corpus; weight = target / actual.
            (
                F.col("n_total")
                / (
                    F.col("n_sources").cast("double")
                    * F.col("n_source")
                )
            ).alias("source_weight"),
        )
    )


def qx29_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the pre-aggregation design that makes
    distinct-count dashboards affordable at 100 TB: per-day Datasketches
    HLL sketches of the user set (``hll_sketch_agg``, storable as a tiny
    binary column per partition), then ``hll_union_agg`` merges the
    daily sketches into the period estimate WITHOUT rescanning events.

    Sketch binaries differ across engines, so (like qt7) the
    oracle-checkable contract is: per-day exact distinct counts, the
    period's exact distinct, and a flag that the merged-sketch estimate
    lands within 5% of it.
    """
    ev = read(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count_distinct("user_id").alias("exact_day_users"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("__est"),
        F.sum("exact_day_users").alias("sum_day_users"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact_total = ev.agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return merged.crossJoin(F.broadcast(exact_total)).select(
        "n_days",
        "sum_day_users",
        "exact_users",
        (
            F.abs(F.col("__est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("merged_est_within_5pct"),
    )


def qx30_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition — the Gopher-style quality filter
    (high duplicate-n-gram fraction => boilerplate/spam): per doc, all
    word-3-grams vs distinct word-3-grams and the duplicate fraction.
    Explode + codegen hash + one per-doc hash aggregate (uniform keys,
    map-side partials); docs under 3 tokens have no grams and no row."""
    from gh_archive_clickhouse_spark.functions.hashing import md5_long

    docs = read(spark, sf_dir, "documents")
    # Explode + codegen hash + one hash aggregate — measured 5x faster
    # at sf0.1 than the staged higher-order shingle build (HOFs are
    # CodegenFallback; the gram shuffle is collapsed map-side).
    # Distinctness is counted over 60-bit md5-derived gram hashes in
    # BOTH engines, so collision behavior (~2^-60, nil) is identical.
    toked = (
        ensure_parallelism(docs)
        .select("doc_id", tokens(F.col("text")).alias("__t"))
        # pre-filter short docs: sequence(1, stop) needs stop >= 1
        # (Spark's sequence(1, 0) would DESCEND and emit bogus rows)
        .filter(F.size("__t") >= 3)
    )
    grams = toked.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("__t") - 2)).alias("__i"),
        "__t",
    ).select(
        "doc_id",
        md5_long(
            F.concat_ws(" ", F.expr("slice(__t, __i, 3)"))
        ).alias("__g"),
    )
    return grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_distinct("__g").alias("n_distinct"),
    ).select(
        "doc_id",
        "n_grams",
        "n_distinct",
        # UNROUNDED integer ratio (dec_avg class) — bit-deterministic.
        (
            1.0 - F.col("n_distinct") / F.col("n_grams").cast("double")
        ).alias("rep_ratio"),
    )


def qx32_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup over the embedding space: blocked
    cosine near-dup pairs (label blocks here; IVF cluster blocks in a
    production pipeline) above 0.35 → connected components → drop
    every cluster member except the min-vec_id representative. Output:
    the surviving (vec_id, label) — the semantically-canonical
    embedding corpus. Same additive-candidate/anti-join shape as the
    text pipeline (qx31), so the 100 TB properties carry over."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors,
    )
    from gh_archive_clickhouse_spark.operators.similarity import (
        near_duplicate_pairs,
    )

    emb = read(spark, sf_dir, "embeddings")
    pairs = near_duplicate_pairs(emb, threshold=0.35, dim=EMB_DIM)
    return dedup_survivors(
        emb, pairs, id_col="vec_id", a_col="vec_a", b_col="vec_b"
    ).select("vec_id", "label")


def qx31_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT — the canonical corpus: LSH
    near-dup pairs → connected components → drop every cluster member
    except the elected representative (min doc_id), keeping all
    never-paired docs. One left-anti join of the corpus against the
    (small: O(duplicate docs)) drop list on uniform doc_id keys — no
    broadcast hint; the drop side can be a large corpus fraction at
    100 TB, so the join strategy is AQE's runtime call."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors,
    )

    docs = read(spark, sf_dir, "documents")
    pairs = qx9_lsh_candidates(spark, sf_dir).filter(
        F.col("jaccard") >= 0.7
    )
    return dedup_survivors(docs, pairs).select(
        "doc_id", "lang", "source"
    )


def qx33_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk SEQUENCE PACKING: lay the corpus out doc-after-
    doc (doc_id order) and cut the token stream into 256-token training
    sequences; per doc emit its packing coordinates (prefix tokens,
    sequence id/offset, boundary-crossing flag). The prefix sum is the
    HIERARCHICAL two-level scan (operators/packing.py) — the global
    window the naive formulation needs never exists, so the plan holds
    at any corpus size. Oracle: the naive single-window SQL, which is
    exactly what the two-level scan must reproduce."""
    from gh_archive_clickhouse_spark.operators.packing import (
        pack_coordinates,
    )

    docs = read(spark, sf_dir, "documents")
    return pack_coordinates(
        docs, F.size(tokens(F.col("text"))), budget=256
    )


def qx45_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-sequence EMISSION — the step after qx33's coordinates:
    materialize each 256-token training sequence's assembly plan (one
    row per document slice via a map-only explode over the
    coordinates) and PROVE the reconstruction by fingerprinting every
    sequence's actual token content: slices join back to the token
    arrays on doc_id (uniform key), are cut with array slice
    arithmetic, and concatenate in seq_pos order into an md5 per
    sequence. The oracle rebuilds the same sequences from the naive
    global-window layout — any off-by-one in slice bounds, ordering,
    or boundary splitting flips the hash. No window beyond qx33's
    bucket-totals scan (plan-asserted in tests)."""
    from gh_archive_clickhouse_spark.operators.packing import (
        packed_sequence_fingerprints,
    )

    docs = read(spark, sf_dir, "documents")
    # Tokenize ONCE: the token arrays feed both the packing branch and
    # the slice join-back — materialized so the corpus scan +
    # tokenization never run twice.
    toks = materialize(
        docs.select("doc_id", tokens(F.col("text")).alias("__t")),
        "qx45_toks",
    )
    return packed_sequence_fingerprints(toks, 256)


_ORACLE_QX45 = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS.format(col="text")} AS tk FROM documents
), c AS (
  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens,
    COALESCE(CAST(sum(len(tk)) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      AS tokens_before
  FROM t
), s AS (
  SELECT doc_id, tk, n_tokens, tokens_before,
         unnest(range(tokens_before // 256,
                      (tokens_before + n_tokens - 1) // 256 + 1)) AS seq
  FROM c WHERE n_tokens > 0
), sl AS (
  SELECT seq AS seq_id,
         greatest(seq * 256, tokens_before) - seq * 256 AS seq_pos,
         least((seq + 1) * 256, tokens_before + n_tokens)
           - greatest(seq * 256, tokens_before) AS slice_len,
         tk[CAST(greatest(seq * 256, tokens_before) - tokens_before + 1
                 AS BIGINT) :
            CAST(least((seq + 1) * 256, tokens_before + n_tokens)
                 - tokens_before AS BIGINT)] AS st
  FROM s
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_slices,
       CAST(sum(slice_len) AS BIGINT) AS n_tokens,
       md5(string_agg(array_to_string(st, ' '), ' ' ORDER BY seq_pos))
         AS content_md5
FROM sl GROUP BY seq_id
"""


def qx47_ivf_blocked_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by IVF CLUSTER — the
    production composition near_duplicate_pairs' docstring prescribes
    (qx10 blocks by the fixture label; a real pipeline has no labels):
    ivf_assign buckets the corpus by nearest centroid (map-only vs
    broadcast centroids), then only same-cluster pairs are scored —
    sum(cluster²) candidate work with the hot-block cap still armed on
    top. One materialized assignment feeds the blocked self-join."""
    from gh_archive_clickhouse_spark.operators.similarity import (
        near_duplicate_pairs,
    )

    emb = read(spark, sf_dir, "embeddings")
    assigned = materialize(
        qx11_ivf_assign(spark, sf_dir), "qx47_assign"
    )
    # Materialized: the blocked frame is consumed three times inside
    # near_duplicate_pairs (block counts + both self-join sides).
    blocked = materialize(emb.join(assigned, "vec_id"), "qx47_blocked")
    return near_duplicate_pairs(
        blocked, block_col="cluster_id", threshold=0.35, dim=EMB_DIM
    )


_ORACLE_QX47 = f"""
WITH c AS (SELECT CAST(vec_id AS INTEGER) AS centroid_id, {_ED} AS cd
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         round({_sql_cosine('CAST(e.embedding AS DOUBLE[])', 'c.cd')}, 6)
           AS sim
  FROM embeddings e, c
), best AS (
  SELECT vec_id, centroid_id, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rk
  FROM scored
), assign AS (
  SELECT vec_id, centroid_id AS cluster_id FROM best WHERE rk = 1
), e AS (
  SELECT em.vec_id, a.cluster_id, {_ED} AS ed
  FROM embeddings em JOIN assign a ON em.vec_id = a.vec_id
  WHERE a.cluster_id IN (
    SELECT cluster_id FROM assign GROUP BY cluster_id
    HAVING count(*) <= {NEARDUP_MAX_BLOCK})
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_sql_cosine('a.ed', 'b.ed')}, 6) AS cos_sim
FROM e a JOIN e b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
WHERE round({_sql_cosine('a.ed', 'b.ed')}, 6) >= 0.35
"""


def qx48_embedding_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark decontamination in EMBEDDING space — the semantic
    twin of qx23's n-gram overlap: a training example is contaminated
    when it sits too close to any held-out benchmark embedding
    (paraphrased eval questions that share no 8-gram still collapse
    in embedding space). Benchmark set = vec_id % 50 == 7 (~2% of the
    fixture); corpus = the rest.

    100 TB shape: the benchmark set is SMALL and fixed (eval suites,
    not corpora), so it broadcasts as one collect_list row and every
    corpus vector computes its max benchmark cosine in a single
    map-only fold — one corpus pass, zero shuffle, like qx23's
    broadcast gram set and qx38's weight map. Output per corpus
    vector: rounded max benchmark similarity + the contaminated flag
    at 0.35 (the p90-p99 band of the fixture's max-bench cosine at
    every SF, so the flag genuinely fires)."""
    from gh_archive_clickhouse_spark.operators.similarity import (
        _with_norm,
    )

    emb = read(spark, sf_dir, "embeddings")
    bench_row = (
        emb.filter(F.col("vec_id") % 50 == 7)
        .select(F.col("embedding").cast("array<double>").alias("bv"))
        .withColumn(
            "bn",
            F.expr(
                "sqrt(aggregate(bv, cast(0 as double), "
                "(s, v) -> s + v * v))"
            ),
        )
        .agg(F.collect_list(F.struct("bv", "bn")).alias("__bench"))
    )
    corpus = _with_norm(
        emb.filter(F.col("vec_id") % 50 != 7),
        "embedding", "__v", "__n", EMB_DIM,
    )
    sim = (
        "CASE WHEN __n > 0 AND e.bn > 0 THEN "
        "round(aggregate(zip_with(__v, e.bv, (p, q) -> p * q), "
        "cast(0 as double), (s, v) -> s + v) / (__n * e.bn), 6) "
        "ELSE CAST(NULL AS DOUBLE) END"
    )
    max_sim = F.expr(f"array_max(transform(__bench, e -> {sim}))")
    return (
        ensure_parallelism(corpus)
        .crossJoin(F.broadcast(bench_row))
        .select(
            "vec_id",
            max_sim.alias("max_bench_sim"),
            (max_sim >= F.lit(0.35)).alias("contaminated"),
        )
    )


_ORACLE_QX48 = f"""
WITH b AS (SELECT {_ED} AS bd FROM embeddings WHERE vec_id % 50 = 7),
c AS (SELECT vec_id, {_ED} AS ed FROM embeddings WHERE vec_id % 50 <> 7)
SELECT c.vec_id,
       max(round({_sql_cosine('c.ed', 'b.bd')}, 6)) AS max_bench_sim,
       (max(round({_sql_cosine('c.ed', 'b.bd')}, 6)) >= 0.35)
         AS contaminated
FROM c CROSS JOIN b
GROUP BY c.vec_id
"""


def qx49_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test SPLIT — the last step before a
    corpus ships: each doc hashes (md5, salted so re-splitting with a
    new salt is a one-token change) into one of 100 buckets; buckets
    0-97 → train, 98 → val, 99 → test. Hash-based splitting is the
    only shape that survives a distributed pipeline: it needs no
    global coordination, re-runs identically on any partitioning, and
    new documents join their split without reshuffling old ones.
    Map-only, zero shuffle. Output: (doc_id, bucket, split). The
    bucket formula lives in ONE place (functions/hashing.split_bucket)
    shared with the README cookbook and its doc-rot test."""
    from gh_archive_clickhouse_spark.functions.hashing import (
        split_bucket,
    )

    docs = read(spark, sf_dir, "documents")
    bucket = split_bucket("doc_id")
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 98, "train")
        .when(bucket == 98, "val")
        .otherwise("test")
        .alias("split"),
    )


_ORACLE_QX49 = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'),
                         1, 8))::BIGINT % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 98 THEN 'train'
            WHEN bucket = 98 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def qx57_split_leakage_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-LEAKAGE removal across the corpus's OWN splits — the pass
    after qx49 that benchmark decontamination (qx23/qx48, which use
    EXTERNAL benchmark sets) does not cover: any train doc that
    near-dups a val/test doc leaks the held-out evaluation into
    training. Candidates come from the sided cross-split banding
    (operators/dedup.cross_split_candidates — only train×held
    buckets are ever joined, never the 98%-of-pairs train×train
    space), verified with exact shingle Jaccard >= 0.7 on candidate
    docs only, then the leaked TRAIN members anti-join out. Output:
    the surviving train rows (doc_id, bucket). Oracle: the full qx9
    verified pair set restricted to cross-split pairs — global
    banding restricted to sides equals sided banding, since band
    keys are per-doc."""
    from gh_archive_clickhouse_spark.functions.hashing import (
        split_bucket,
    )
    from gh_archive_clickhouse_spark.operators.dedup import (
        cross_split_candidates,
    )

    docs = read(spark, sf_dir, "documents")
    with_b = docs.select(
        "doc_id", split_bucket("doc_id").alias("bucket"), "text"
    )
    train = with_b.filter(F.col("bucket") < 98)
    held = with_b.filter(F.col("bucket") >= 98)
    sigs = materialize(minhash_signatures(docs), "qx57_sigs")
    tsigs = sigs.join(train.select("doc_id"), "doc_id", "left_semi")
    hsigs = sigs.join(held.select("doc_id"), "doc_id", "left_semi")
    cand = cross_split_candidates(tsigs, hsigs)
    leaked = (
        verify_candidates(docs, cand, a_col="id_a", b_col="id_b")
        .filter(F.col("jaccard") >= 0.7)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )
    return train.select("doc_id", "bucket").join(
        leaked, "doc_id", "left_anti"
    )


_ORACLE_QX57 = f"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'),
                         1, 8))::BIGINT % 100 AS bucket
  FROM documents
), vp AS (
  SELECT doc_a, doc_b FROM ({_ORACLE_QX9}) v WHERE jaccard >= 0.7
), leak AS (
  SELECT CASE WHEN ba.bucket < 98 THEN p.doc_a ELSE p.doc_b END AS doc_id
  FROM vp p
  JOIN b ba ON p.doc_a = ba.doc_id
  JOIN b bb ON p.doc_b = bb.doc_id
  WHERE (ba.bucket < 98) <> (bb.bucket < 98)
)
SELECT doc_id, bucket FROM b
WHERE bucket < 98 AND doc_id NOT IN (SELECT doc_id FROM leak)
"""


def qx50_long_gram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style verbatim-span dedup over sliding 20-token
    grams (operators/dedup.long_gram_overlap_pairs) — the pass that
    catches long copied spans NO MATTER where they sit, which
    fixed-boundary passage chunks (qx36) structurally miss and
    3-shingle containment (qx37) can only infer statistically.

    The fixture has no natural verbatim 20-token overlaps, so the
    query PLANTS them (the qm6/qm7 pattern: a generator with a
    closed-form oracle): every doc_id % 7 == 0 with >= 32 tokens
    spawns a copy doc (id + 1,000,000) whose text is a unique filler
    prefix + the original's first 32 tokens. A 32-token copied span
    with gram=20 yields exactly 13 shared windows, and the operator
    must recover exactly those pairs — any window arithmetic,
    hashing, or df-cap divergence breaks the hash match."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        long_gram_overlap_pairs,
    )

    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    t = tokens(F.col("text"))
    did = F.col("doc_id").cast("string")
    copies = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.size(t) >= 32)
    ).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("cpa"), did),
            F.concat(F.lit("cpb"), did),
            F.concat(F.lit("cpc"), did),
            F.concat_ws(" ", F.slice(t, 1, 32)),
        ).alias("text"),
    )
    return long_gram_overlap_pairs(
        docs.unionByName(copies), gram=20, max_df=50
    )


_ORACLE_QX50 = f"""
WITH toks0 AS (
  SELECT doc_id, {_SQL_TOKENS.format(col="text")} AS t FROM documents
), copies AS (
  SELECT doc_id + 1000000 AS doc_id,
         'cpa' || CAST(doc_id AS VARCHAR) ||
         ' cpb' || CAST(doc_id AS VARCHAR) ||
         ' cpc' || CAST(doc_id AS VARCHAR) || ' ' ||
         array_to_string(t[1:32], ' ') AS text
  FROM toks0 WHERE doc_id % 7 = 0 AND len(t) >= 32
), corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM copies
), ct AS (
  SELECT doc_id, {_SQL_TOKENS.format(col="text")} AS t FROM corpus
), sh AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 19),
           i -> array_to_string(t[i:i+19], ' '))) AS s
  FROM ct WHERE len(t) >= 20
), inv AS (
  SELECT DISTINCT doc_id, {_sql_word_hash31('s')} AS hh FROM sh
), kept AS (
  SELECT i.doc_id, i.hh FROM inv i
  JOIN (SELECT hh FROM inv GROUP BY hh HAVING count(*) <= 50) d USING (hh)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_grams
FROM kept a JOIN kept b ON a.hh = b.hh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 1
"""


BPE_ROUNDS = 8


def qx51_bpe_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary construction (operators/text_analysis.
    bpe_vocab_build): 8 merge-pair elections over the corpus
    word-frequency table — the tokenizer-training loop every pipeline
    runs before token counting (qx19) and packing (qx33). One
    corpus-wide shuffle builds the word table; each round is a
    map-side-combined pair count + TakeOrderedAndProject election + a
    pure higher-order-function merge fold, re-materialized per round
    (the qx25 bounded-iteration pattern)."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_vocab_build,
    )

    docs = read(spark, sf_dir, "documents")
    return bpe_vocab_build(docs, rounds=BPE_ROUNDS)


def _bpe_rounds_cte(rounds: int) -> str:
    """Unrolled per-round CTEs mirroring bpe_vocab_build exactly:
    pair counting weighted by word frequency, (count DESC, l, r)
    election, and the same greedy left-to-right merge fold — as a
    string accumulator in list_reduce (the last space-separated
    token of the accumulator IS the fold output's last element, and
    a||b can never equal a, so checking it reproduces non-overlapping
    greedy semantics, matching the Spark aggregate()). The word
    column is carried through every w{n} so the final round doubles
    as the encode table (qx52)."""
    last = "regexp_extract(acc, '[^ ]*$')"
    parts = [f"""
w0 AS (
  SELECT word,
         list_transform(range(1, len(word) + 1), i -> word[i]) AS syms,
         CAST(COUNT(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' AND regexp_matches(word, '{BPE_WORD_RE}')
    AND len(word) <= {BPE_MAX_WORD_LEN}
  GROUP BY word
)"""]
    for n in range(1, rounds + 1):
        parts.append(f"""
p{n} AS (
  SELECT unnest(list_transform(range(1, len(syms)), i ->
           {{'l': syms[i], 'r': syms[i + 1]}})) AS pr, wcnt
  FROM w{n - 1}
),
t{n} AS (
  SELECT pr.l AS l, pr.r AS r, pr.l || pr.r AS merged,
         CAST(SUM(wcnt) AS BIGINT) AS pair_count
  FROM p{n} GROUP BY pr.l, pr.r
  ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
),
w{n} AS (
  SELECT word,
         CASE WHEN t.l IS NULL OR len(syms) < 2 THEN syms
         ELSE string_split(list_reduce(syms, (acc, x) ->
           CASE WHEN {last} = t.l AND x = t.r
                THEN substr(acc, 1, len(acc) - len({last})) || t.merged
                ELSE acc || ' ' || x END), ' ') END AS syms,
         wcnt
  FROM w{n - 1} LEFT JOIN t{n} t ON TRUE
)""")
        # LEFT JOIN ON TRUE (not a cross join): when a round elects
        # NO pair (corpus exhausted before BPE_ROUNDS), t{n} is empty
        # and a cross join would empty the whole word table — the
        # encode dictionary (qx52) must instead pass through
        # unchanged, matching bpe_encode_stats' early stop.
    return "WITH " + ",".join(parts)


def _bpe_oracle(rounds: int) -> str:
    unions = "\nUNION ALL\n".join(
        f'SELECT CAST({n} AS INTEGER) AS merge_round, l AS "left", '
        f'r AS "right", merged, pair_count FROM t{n}'
        for n in range(1, rounds + 1)
    )
    return _bpe_rounds_cte(rounds) + "\n" + unions


def _bpe_encode_oracle(rounds: int) -> str:
    return (
        _bpe_rounds_cte(rounds)
        + f""",
enc AS (
  SELECT word, len(syms) AS n_tokens FROM w{rounds}
),
corpus AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
       CAST(SUM(e.n_tokens) AS BIGINT) AS n_bpe_tokens
FROM corpus c JOIN enc e USING (word)
GROUP BY doc_id
"""
    )


_ORACLE_QX51 = _bpe_oracle(BPE_ROUNDS)
_ORACLE_QX52 = _bpe_encode_oracle(BPE_ROUNDS)


def qx55_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency rarity per doc (operators/text_analysis.
    rarity_score) — the perplexity-proxy LM quality signal, kept
    engine-exact by floor-dividing in BIGINT space instead of taking
    logs (log() ULP drift between runtimes would break hash parity;
    same policy as qx38's exp-free squash). One corpus shuffle for
    the vocabulary, broadcast 1-row total, AQE-decided join back,
    integer-exact per-doc fold."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        rarity_score,
    )

    return rarity_score(read(spark, sf_dir, "documents"))


_ORACLE_QX55 = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS word FROM documents
), v AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY word
), t AS (
  SELECT CAST(sum(c) AS BIGINT) AS tt FROM v
), j AS (
  SELECT doc_id, (1000 * t.tt) // v.c AS rm
  FROM toks JOIN v USING (word) CROSS JOIN t
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_tokens,
       CAST(sum(rm) AS BIGINT) AS sum_rarity_milli,
       CAST(sum(rm) // count(*) AS BIGINT) AS mean_rarity_milli
FROM j GROUP BY doc_id
"""


TOKEN_BUDGET = 12_000


def qx53_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (operators/packing.budget_select):
    score every doc (the qx5 quality blend), then greedily keep the
    best docs until their cumulative token count reaches the budget —
    "the highest-quality 12k tokens". Distributed as the two-level
    prefix-sum recurrence (range partition by (quality DESC, doc_id) →
    per-partition weight totals → tiny offset window → broadcast
    join), never a single global running-sum window over the corpus.
    Each kept row carries tokens_before as the cumulative witness, so
    the oracle (a naive global-window SQL) pins the exact greedy cut,
    not just membership counts."""
    from gh_archive_clickhouse_spark.operators.packing import budget_select
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        quality_score,
    )

    docs = read(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "n_tokens", "quality")
    return budget_select(
        scored,
        "n_tokens",
        TOKEN_BUDGET,
        [F.col("quality").desc(), F.col("doc_id").asc()],
    )


_ORACLE_QX53 = f"""
WITH q AS ({_ORACLE_QX5}),
c AS (
  SELECT doc_id, n_tokens, quality,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY quality DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM q
)
SELECT doc_id, n_tokens, quality, tokens_before
FROM c WHERE tokens_before < {TOKEN_BUDGET}
"""


def qx52_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE with the learned merge table
    (operators/text_analysis.bpe_encode_stats): build the qx51
    vocabulary, then apply its merges in learned order to the
    DISTINCT-word table (duplicate words pay nothing) and join
    per-word token counts back to the corpus for per-doc totals —
    the pass that prices a curated corpus in tokens before packing
    (qx33). Oracle: the same unrolled rounds, with the final round's
    word→symbols table used as the encode dictionary.

    r16: fused build+encode (bpe_build_encode_stats) — the build's
    final word table IS the encode dictionary, so the former
    build-collect-then-re-encode composition's second corpus
    word-table shuffle and R re-applied merge folds are gone; the
    fold composition (and therefore every per-doc count) is
    bit-identical, property-tested against the two-pass form."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_build_encode_stats,
    )

    docs = read(spark, sf_dir, "documents")
    return bpe_build_encode_stats(docs, rounds=BPE_ROUNDS)


# qx58: a large merge table (258 entries — ~32x qx52's 8; the full
# production scale is the 30k-merge execution test in
# tests/test_operators.py) that the plan-size-safe kernel encode must
# apply. Deterministic and engine-shareable: tier 1 is every ordered
# pair over a fixed 16-letter alphabet (256 single-char merges, lex
# order = learned order); tiers 2-3 chain MERGED symbols (ab+le →
# able, t+able → table) so multi-level merge matching is exercised,
# not just adjacent input characters.
_QX58_ALPHABET = "abcdeghilmnorstu"
QX58_MERGES: list[tuple[str, str, str]] = [
    (a, b, a + b) for a in _QX58_ALPHABET for b in _QX58_ALPHABET
] + [("ab", "le", "able"), ("t", "able", "table")]


def qx58_bpe_encode_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer encode at PRODUCTION vocabulary size
    (operators/text_analysis.bpe_encode_stats_kernel): the 258-entry
    merge table is broadcast to an Arrow-batched mapInPandas kernel
    that applies every merge per DISTINCT word inside one map stage —
    Catalyst plan size independent of merge count, unlike qx52's
    unrolled expression folds whose plan depth grows O(R) and cannot
    analyze at a real tokenizer's ~30k merges. qx52 stays as the
    small-R expression-path parity cross-check; this is the scale
    path. Oracle: the same merge table as a VALUES list driven
    through a recursive CTE — one fold per (word, merge round)."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_encode_stats_kernel,
    )

    docs = read(spark, sf_dir, "documents")
    return bpe_encode_stats_kernel(docs, QX58_MERGES)


def _bpe_kernel_oracle(merges: list[tuple[str, str, str]]) -> str:
    """Recursive-CTE mirror of the kernel encode: the merge table as
    VALUES rows keyed by round; each recursion step applies round
    rnd+1's merge as the same greedy string-accumulator fold qx52's
    oracle uses (the accumulator's last space-separated token IS the
    fold output's last element). Terminates when no merge row matches
    rnd+1 — exactly len(merges) iterations."""
    last = "regexp_extract(acc, '[^ ]*$')"
    values = ", ".join(
        f"({i + 1}, '{l}', '{r}', '{m}')"
        for i, (l, r, m) in enumerate(merges)
    )
    return f"""
WITH RECURSIVE
merges(rnd, l, r, m) AS (SELECT * FROM (VALUES {values})),
words AS (
  SELECT DISTINCT word
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' AND regexp_matches(word, '{BPE_WORD_RE}')
    AND len(word) <= {BPE_MAX_WORD_LEN}
),
enc AS (
  SELECT 0 AS rnd, word,
         list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
  FROM words
  UNION ALL
  SELECT e.rnd + 1, e.word,
         CASE WHEN len(e.syms) < 2
                OR NOT list_contains(e.syms, m.l)
                OR NOT list_contains(e.syms, m.r)
              THEN e.syms
         ELSE string_split(list_reduce(e.syms, (acc, x) ->
           CASE WHEN {last} = m.l AND x = m.r
                THEN substr(acc, 1, len(acc) - len({last})) || m.m
                ELSE acc || ' ' || x END), ' ') END AS syms
  FROM enc e JOIN merges m ON m.rnd = e.rnd + 1
),
fin AS (
  SELECT word, len(syms) AS n_tokens
  FROM enc WHERE rnd = {len(merges)}
),
corpus AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
       CAST(SUM(e.n_tokens) AS BIGINT) AS n_bpe_tokens
FROM corpus c JOIN fin e USING (word)
GROUP BY doc_id
"""


_ORACLE_QX58 = _bpe_kernel_oracle(QX58_MERGES)


QX63_MERGES = 24
QX63_PAIRS_PER_ROUND = 8


def _bpe_batched_oracle(merges: int, k: int) -> str:
    """Unrolled-round mirror of ``bpe_vocab_build_batched`` — the
    production build path's election put under SQL: per round,

    1. pair counts over the word table (same explode + weighted sum
       as qx51's rounds);
    2. the operator's OVER-FETCH (rank ``rn <= 4*want + 8`` in the
       (count DESC, l, r) total order, ``want = least(k, merges -
       accepted_so_far)``);
    3. the GREEDY NON-CONFLICTING acceptance as a single
       ``list_reduce`` over the ranked candidate strings — the
       accumulator is ``'<used>|<accepted>'`` where ``<used>`` is a
       space-bounded symbol set (symbols are alnum, so ``' s '``
       membership probes are exact) and ``<accepted>`` a
       ';'-separated ``l,r,count`` list; a candidate is taken iff its
       left, right, AND concatenation are all absent from ``<used>``
       and fewer than ``want`` pairs are taken — byte-for-byte the
       operator's loop;
    4. ONE left-to-right application pass of the accepted set: since
       every accepted merged symbol is its pair's concatenation, the
       replacement is just ``acc || x`` (drop the space), guarded by
       the same ``' l,x '`` membership probe — mirroring
       ``_merge_fold_many``'s single map-literal pass.

    Unrolled ``merges`` rounds: each non-exhausted round accepts at
    least the top candidate (an empty used-set can't conflict), so
    ``merges`` rounds always suffice; once the budget is met,
    ``want = 0`` rounds accept nothing and pass the word table
    through unchanged — exactly the operator's loop exit."""
    last = "regexp_extract(acc, '[^ ]*$')"
    parts = [f"""
w0 AS MATERIALIZED (
  SELECT list_transform(range(1, len(word) + 1), i -> word[i]) AS syms,
         CAST(COUNT(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' AND regexp_matches(word, '{BPE_WORD_RE}')
    AND len(word) <= {BPE_MAX_WORD_LEN}
  GROUP BY word
),
cum0 AS MATERIALIZED (SELECT 0 AS c)"""]
    for n in range(1, merges + 1):
        parts.append(f"""
pc{n} AS (
  SELECT pr.l AS l, pr.r AS r, CAST(SUM(wcnt) AS BIGINT) AS pair_count
  FROM (SELECT unnest(list_transform(range(1, len(syms)), i ->
          {{'l': syms[i], 'r': syms[i + 1]}})) AS pr, wcnt
        FROM w{n - 1})
  GROUP BY pr.l, pr.r
),
want{n} AS (SELECT least({k}, {merges} - c) AS w FROM cum{n - 1}),
cand{n} AS (
  SELECT l, r, pair_count,
         row_number() OVER (ORDER BY pair_count DESC, l ASC, r ASC)
           AS rn
  FROM pc{n}
),
fold{n} AS (
  SELECT list_reduce(
    list_prepend(' |', list(l || ',' || r || ',' ||
                            CAST(pair_count AS VARCHAR) ORDER BY rn)),
    (acc, x) -> CASE WHEN
        strpos(split_part(acc, '|', 1),
               ' ' || split_part(x, ',', 1) || ' ') > 0
        OR strpos(split_part(acc, '|', 1),
               ' ' || split_part(x, ',', 2) || ' ') > 0
        OR strpos(split_part(acc, '|', 1),
               ' ' || split_part(x, ',', 1)
                   || split_part(x, ',', 2) || ' ') > 0
        OR (CASE WHEN split_part(acc, '|', 2) = '' THEN 0
                 ELSE len(string_split(split_part(acc, '|', 2), ';'))
            END) >= w
      THEN acc
      ELSE split_part(acc, '|', 1)
           || split_part(x, ',', 1) || ' '
           || split_part(x, ',', 2) || ' '
           || split_part(x, ',', 1) || split_part(x, ',', 2) || ' '
           || '|'
           || CASE WHEN split_part(acc, '|', 2) = '' THEN x
                   ELSE split_part(acc, '|', 2) || ';' || x END
    END) AS acc
  FROM cand{n} CROSS JOIN want{n}
  WHERE rn <= 4 * w + 8
  GROUP BY w
),
accepted{n} AS MATERIALIZED (
  SELECT i AS idx,
         split_part(e, ',', 1) AS l,
         split_part(e, ',', 2) AS r,
         CAST(split_part(e, ',', 3) AS BIGINT) AS pair_count
  FROM (
    SELECT unnest(string_split(split_part(acc, '|', 2), ';')) AS e,
           unnest(range(1,
             len(string_split(split_part(acc, '|', 2), ';')) + 1)) AS i
    FROM fold{n} WHERE split_part(acc, '|', 2) <> ''
  )
),
cum{n} AS MATERIALIZED (
  SELECT c + (SELECT count(*) FROM accepted{n}) AS c FROM cum{n - 1}
),
aset{n} AS (
  SELECT ' ' || string_agg(l || ',' || r, ' ' ORDER BY idx) || ' ' AS s
  FROM accepted{n}
),
w{n} AS MATERIALIZED (
  SELECT CASE WHEN a.s IS NULL OR len(syms) < 2 THEN syms
         ELSE string_split(list_reduce(syms, (acc, x) ->
           CASE WHEN strpos(a.s, ' ' || {last} || ',' || x || ' ') > 0
                THEN acc || x
                ELSE acc || ' ' || x END), ' ') END AS syms,
         wcnt
  FROM w{n - 1} LEFT JOIN aset{n} a ON TRUE
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT {n} AS rnd, idx, l, r, pair_count FROM accepted{n}"
        for n in range(1, merges + 1)
    )
    return (
        "WITH " + ",".join(parts) + f"""
SELECT CAST(row_number() OVER (ORDER BY rnd, idx) AS INTEGER)
         AS merge_round,
       l AS "left", r AS "right", l || r AS merged, pair_count
FROM ({unions})
"""
    )


def qx63_bpe_vocab_build_batched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION BPE build path under the hash gate
    (operators/text_analysis.bpe_vocab_build_batched): elect up to 8
    mutually non-conflicting pairs per round and apply them in ONE
    constant-depth fold pass, cutting sequential rounds from R to
    ~R/k — the only first-class scale path that until this row rested
    on property tests alone (qx51 pins the exact-sequential
    cross-check; the k=1 ≡ sequential property bridges them). Oracle:
    the per-round election + over-fetch + greedy disjoint acceptance
    + one-pass application, unrolled (see _bpe_batched_oracle)."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_vocab_build_batched,
    )

    docs = read(spark, sf_dir, "documents")
    return bpe_vocab_build_batched(
        docs, merges=QX63_MERGES, pairs_per_round=QX63_PAIRS_PER_ROUND
    )


_ORACLE_QX63 = _bpe_batched_oracle(QX63_MERGES, QX63_PAIRS_PER_ROUND)


QX59_SEED = "shuffle-v1"


def qx59_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus shuffle (operators/packing.
    seeded_shuffle) — the reproducible training-order emission before
    batching: every doc's position is the rank of md5(id || seed), so
    the permutation is a pure function of (id, seed) — identical on
    any cluster size, re-rollable by changing one seed token.
    Distributed as a map-only key stamp + the densify_order two-level
    rank (range partition, per-partition counts, prefix over the tiny
    count table, broadcast offsets) — never a global row_number
    window. The oracle's naive global-window SQL pins the exact
    permutation, not just that some shuffle happened."""
    from gh_archive_clickhouse_spark.operators.packing import (
        seeded_shuffle,
    )

    docs = read(spark, sf_dir, "documents")
    return seeded_shuffle(docs.select("doc_id"), seed=QX59_SEED)


_ORACLE_QX59 = f"""
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || '{QX59_SEED}')
                  || '-' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
       ) - 1 AS BIGINT) AS shuffle_pos
FROM documents
"""


QX60_SALT = "mix-v1"
QX60_PPM = 1_000_000
# Global output budget: keep ~60% of the corpus, distributed by the
# target weights. With the rank-derived spec below this puts the
# fixture's low-rank sources at a few percent keep rate and the
# high-rank ones at the least() cap — both regimes of the rate
# formula under the hash gate.
QX60_BUDGET_PPM = 600_000


def ranked_source_weights(docs: DataFrame) -> DataFrame:
    """qx60/qs14's NON-UNIFORM, engine-reproducible mixture spec:
    source s's weight_ppm = r * 10^6 div (k(k+1)/2), r its 1-based
    alphabetical rank among the k observed sources. Built DRIVER-SIDE
    from one distinct-sources collect (O(sources) rows — a spec is
    dimension-sized metadata, the BPE-merge-table precedent), so the
    weights frame handed to the operator is a literal local table:
    mixture_rates' eager validation probes cost O(sources), never a
    re-execution of a corpus-shaped plan. A NULL source raises: a
    mixture over unattributed rows is ill-defined (they could never
    join a rate row anyway — SQL NULL never equals NULL — while
    silently inflating k and deflating every real source's weight)."""
    observed = [
        r[0] for r in docs.select("source").distinct().collect()
    ]
    # local_rows_df: spec-sized local frame — see
    # mixture_rates_from_counts.
    return local_rows_df(
        docs.sparkSession,
        _ranked_weight_rows(observed),
        "source string, weight_ppm long",
    )


def _ranked_weight_rows(observed) -> list:
    """The ranked-weights formula over an already-observed source set
    (driver-side rows, no Spark job) — shared by
    :func:`ranked_source_weights` and the fused one-scan call sites
    (qx42/qx60/qs14/qs15), which read the observed sources off
    :func:`operators.packing.source_counts`'s keys instead of running
    a second distinct scan. Same NULL contract as the frame form."""
    observed = list(observed)
    if any(s is None for s in observed):
        raise ValueError(
            "ranked_source_weights: corpus has rows with a NULL "
            "source — attribute or drop them before mixing"
        )
    srcs = sorted(observed)
    d = len(srcs) * (len(srcs) + 1) // 2
    return [(s, (i + 1) * QX60_PPM // d) for i, s in enumerate(srcs)]


def qx60_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZE an arbitrary-weight mixture (operators/packing.
    mixture_resample): given a per-source target-share spec — the
    {web: .5, code: .3, books: .2} table every production curation
    run writes down — keep a deterministic salted-hash subset of each
    source so the output approximates budget * weights of the corpus.
    Each row's fate is a pure function of (salt, doc_id) vs its
    source's integer keep rate, so the curated mixture is
    reproducible on any cluster layout (the qx21 determinism contract
    under a caller-supplied mixture).

    The spec here is NON-UNIFORM and engine-reproducible: source s's
    weight_ppm = r * 10^6 div (k(k+1)/2) where r is its 1-based
    alphabetical rank among the k sources — so every source gets a
    different target and the oracle derives the identical table.
    Rates stay ENGINE-EXACT integers (see the operator contract):
    ``rate_ppm = least(10^6, ((budget_ppm * weight_ppm) div 10^6)
    * n_total div n_source)``, keep iff ``split_bucket(doc_id, salt,
    10^6) < rate_ppm``. Scale shape: two tiny aggregates + an
    O(sources) rank window, the rate table broadcasts, the keep
    filter is map-only at the scan. Output aggregates the kept rows
    per (source, lang) with id-sum/extreme witnesses — the qx21
    pattern pinning exact membership, not just counts."""
    from gh_archive_clickhouse_spark.operators.packing import (
        mixture_gate,
        mixture_rates_from_counts,
        source_counts,
    )

    docs = read(spark, sf_dir, "documents")
    # Fused spec+rates: ONE per-source-count aggregate feeds both the
    # ranked spec (its keys are the observed source set) and the rate
    # table — the unfused form paid a distinct scan, a counts scan and
    # a totals scan of the same corpus.
    counts = source_counts(docs)
    kept = mixture_gate(
        docs,
        mixture_rates_from_counts(
            spark,
            counts,
            _ranked_weight_rows(counts),
            budget_ppm=QX60_BUDGET_PPM,
        ),
        salt=QX60_SALT,
    )
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("sum_id"),
        F.max("rate_ppm").alias("rate_ppm"),
    )


def mixture_rates_cte(src: str = "documents", prefix: str = "") -> str:
    """CTE fragment (no ``WITH`` keyword) ending in ``{prefix}rates``
    (source, rate_ppm): the rank-derived weights spec and integer
    rate table of the qx60 mixture — the ONE SQL definition of the
    rate formula, parameterized on the corpus relation (and a CTE
    name prefix for composition into oracles that already use these
    names) so the qx60/qs14/qx42/qs15 oracles cannot drift apart
    (the lsh_candidates_sql precedent)."""
    p = prefix
    return f"""{p}srcs AS (SELECT DISTINCT source FROM {src}),
{p}ranked AS (
  SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS r
  FROM {p}srcs
), {p}denom AS (
  SELECT (count(*) * (count(*) + 1)) // 2 AS d FROM {p}srcs
), {p}weights AS (
  SELECT source, (r * {QX60_PPM}) // d AS weight_ppm
  FROM {p}ranked CROSS JOIN {p}denom
), {p}per_source AS (
  SELECT source, count(*) AS n_source FROM {src} GROUP BY 1
), {p}totals AS (
  SELECT count(*) AS n_total FROM {src}
), {p}rates AS (
  SELECT w.source,
         least({QX60_PPM},
               ((({QX60_BUDGET_PPM} * w.weight_ppm) // {QX60_PPM})
                * n_total) // n_source) AS rate_ppm
  FROM {p}weights w JOIN {p}per_source USING (source)
  CROSS JOIN {p}totals
)"""


def mixture_keep_sql(alias: str, rates_alias: str = "r") -> str:
    """The salted-hash keep predicate of the qx60 mixture over a row
    alias — shared by every oracle that applies a rate table."""
    return (
        f"('0x' || substr(md5(CAST({alias}.doc_id AS VARCHAR) || "
        f"'{QX60_SALT}'), 1, 8))::BIGINT % {QX60_PPM} "
        f"< {rates_alias}.rate_ppm"
    )


# Shared with qs14 (the streaming gate must reproduce this exact
# membership): the rank-derived weights spec, integer rate table, and
# salted keep rule as a reusable CTE prefix ending in `kept`.
_QX60_KEPT_CTE = f"""
WITH {mixture_rates_cte("documents")},
kept AS (
  SELECT d.source, d.lang, d.doc_id, r.rate_ppm
  FROM documents d JOIN rates r USING (source)
  WHERE {mixture_keep_sql("d")}
)
"""

_ORACLE_QX60 = (
    _QX60_KEPT_CTE
    + """
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(max(rate_ppm) AS BIGINT) AS rate_ppm
FROM kept GROUP BY 1, 2
"""
)


QX61_SHARDS = 7


def qx61_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment over the seeded order (operators/
    packing.shard_assignments — the pure half of the
    write_training_shards emission sink): shard = pos * n DIV total,
    so shard k holds the k-th contiguous run of the reproducible
    training order with sizes balanced within one row. The total is
    validated driver-side by one column-pruned aggregate (dense
    0-based, no duplicates/NULLs) and inlined as a literal, making
    the assignment itself a map-only BIGINT expression — exact at any
    corpus size, where double division would misassign boundary rows
    past 2^53. The oracle reproduces qx59's permutation and the same
    integer division."""
    from gh_archive_clickhouse_spark.operators.packing import (
        seeded_shuffle,
        shard_assignments,
    )

    docs = read(spark, sf_dir, "documents")
    ordered = seeded_shuffle(docs.select("doc_id"), seed=QX59_SEED)
    return shard_assignments(ordered, QX61_SHARDS)


_ORACLE_QX61 = f"""
WITH ordered AS ({_ORACLE_QX59})
SELECT doc_id, shuffle_pos,
       CAST((shuffle_pos * {QX61_SHARDS})
            // (SELECT count(*) FROM ordered) AS INT) AS shard
FROM ordered
"""


QX62_SHARDS = 5
QX62_SEED = "shard-seq-v1"


def qx62_packed_training_shards(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training shards of PACKED SEQUENCES — the artifact a trainer
    actually mounts: qx61 sharded the document-level order, but what
    a training job reads is fixed-budget token sequences (qx45's
    emission). This is the closing composition of the training-order
    story: qx45's packed 256-token sequences (assembly plan +
    per-sequence content fingerprint) → ``seeded_shuffle`` on
    ``seq_id`` (reproducible inter-sequence training order; the
    intra-sequence layout was fixed at packing time) →
    ``shard_assignments`` (shard = pos * n DIV total, BIGINT, total
    validated dense). ``write_training_shards`` on this frame is the
    on-disk form (filesystem effects stay out of the oracle, the
    qx61 precedent — tests/test_packing_pq.py covers the sink over a
    packed frame).

    Scale shape: adds NOTHING to qx45's plan beyond the two-level
    densify rank (range partition on the hash key, O(partitions)
    prefix, broadcast offsets) and one map-only integer expression —
    zero new shuffle classes over the seeded order (plan-tested).
    Every sequence row carries its content_md5 through to the shard
    assignment, so the oracle pins that shard k holds exactly the
    right SEQUENCE CONTENT, not just the right count."""
    from gh_archive_clickhouse_spark.operators.packing import (
        seeded_shuffle,
        shard_assignments,
    )

    seqs = qx45_packed_sequences(spark, sf_dir)
    ordered = seeded_shuffle(seqs, id_col="seq_id", seed=QX62_SEED)
    return shard_assignments(ordered, QX62_SHARDS)


_ORACLE_QX62 = f"""
WITH seqs AS ({_ORACLE_QX45}),
ordered AS (
  SELECT seq_id, n_slices, n_tokens, content_md5,
         CAST(row_number() OVER (
           ORDER BY md5(CAST(seq_id AS VARCHAR) || '{QX62_SEED}')
                    || '-' || lpad(CAST(seq_id AS VARCHAR), 12, '0')
         ) - 1 AS BIGINT) AS shuffle_pos
  FROM seqs
)
SELECT seq_id, n_slices, n_tokens, content_md5, shuffle_pos,
       CAST((shuffle_pos * {QX62_SHARDS})
            // (SELECT count(*) FROM ordered) AS INT) AS shard
FROM ordered
"""


def qx46_densified_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing over SPARSE order keys — the degradation case
    pack_coordinates' contract documents: keys spaced ~10^6 apart put
    one doc per bucket and blow the offsets table up toward O(n).
    The fix is the id-densification pass (operators/packing.py
    densify_order — the distributed zipWithIndex recurrence: range
    partition, per-partition counts, prefix over the tiny count
    table, rank within partitions), then packing by the dense rank
    with healthy n/group_size buckets. Output keys are the ORIGINAL
    sparse ids plus the dense rank, so the oracle (naive
    row_number/global-window SQL) pins both the densification and the
    packing arithmetic."""
    from gh_archive_clickhouse_spark.operators.packing import (
        densify_order,
        pack_coordinates,
    )

    docs = read(spark, sf_dir, "documents")
    sparse = docs.select(
        (F.col("doc_id") * F.lit(1_000_003) + F.lit(17)).alias(
            "sparse_id"
        ),
        "text",
    )
    # Two consumers below (packing + the sparse_id join-back):
    # materialized so the densify pipeline runs once, not per branch.
    dense = materialize(densify_order(sparse, "sparse_id"), "qx46_dense")
    coords = pack_coordinates(
        dense,
        F.size(tokens(F.col("text"))),
        budget=256,
        order_col="dense_id",
    )
    return coords.join(
        dense.select("sparse_id", "dense_id"), "dense_id"
    ).select(
        "sparse_id",
        "dense_id",
        "n_tokens",
        "tokens_before",
        "seq_id",
        "seq_offset",
        "crosses_boundary",
    )


_ORACLE_QX46 = f"""
WITH t AS (
  SELECT doc_id * 1000003 + 17 AS sparse_id,
         CAST(len({_SQL_TOKENS.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents
), d AS (
  SELECT sparse_id, n_tokens,
         CAST(row_number() OVER (ORDER BY sparse_id) - 1 AS BIGINT)
           AS dense_id
  FROM t
), c AS (
  SELECT sparse_id, dense_id, n_tokens,
    COALESCE(CAST(sum(n_tokens) OVER (ORDER BY dense_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      AS tokens_before
  FROM d
)
SELECT sparse_id, dense_id, n_tokens, tokens_before,
  CAST(tokens_before // 256 AS BIGINT) AS seq_id,
  CAST(tokens_before % 256 AS BIGINT) AS seq_offset,
  (n_tokens > 0 AND
   ((tokens_before + n_tokens - 1) // 256) > (tokens_before // 256))
    AS crosses_boundary
FROM c
"""


def qx34_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ENCODE: 64-d float vectors -> 8 int codes
    (8 subspaces x 16-entry codebook, deterministic codebook = the
    vectors with id < 16). One map-only stage against the broadcast
    one-row codebook — zero shuffle; the encode step of an IVF-PQ
    index build (operators/similarity.py:pq_encode)."""
    from gh_archive_clickhouse_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )

    emb = read(spark, sf_dir, "embeddings")
    enc = pq_encode(emb, m=8, dim=EMB_DIM, codebook=pq_codebook(emb))
    # Engine-portable contract form: arrays serialize to CSV strings
    # (same convention as qx8's signature column).
    return enc.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform(F.col("codes"), lambda c: c.cast("string"))
        ).alias("codes_s"),
    )


def qx35_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ASYMMETRIC-DISTANCE top-10 for the vec_id=0 query: score the
    query against the codebook once (8x16 distance table), then every
    vector's approximate distance is 8 table lookups + a fold over its
    codes — the FAISS-style ADC scan loop. TakeOrderedAndProject
    merges per-task top-k; no global sort, no float vectors touched
    during the scan."""
    from gh_archive_clickhouse_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    emb = read(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb)
    enc = pq_encode(emb, m=8, dim=EMB_DIM, codebook=cb)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    return pq_adc_topk(
        enc.filter(F.col("vec_id") != 0), query, cb, k_top=10, m=8,
        dim=EMB_DIM,
    )


def qx36_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplication profile: cut every doc into 16-token
    chunks, elect the corpus-first occurrence of each identical chunk
    (min-struct window over the 60-bit chunk hash — uniform keys),
    and roll up each doc's duplicate-passage fraction — the
    boilerplate detector document-level dedup can't see
    (operators/dedup.py:passage_dup_stats)."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        passage_dup_stats,
    )

    docs = read(spark, sf_dir, "documents")
    return passage_dup_stats(docs, chunk_tokens=16)


def qx37_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs |A∩B|/min(|A|,|B|) ≥ 0.6 over word
    3-shingles via an inverted shingle index with a df ≤ 50
    stop-shingle guard — the asymmetric measure that catches
    subset-copies Jaccard dilutes; candidate volume is bounded by
    max_df x corpus shingles, linear at 100 TB
    (operators/dedup.py:containment_pairs)."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        containment_pairs,
    )

    docs = read(spark, sf_dir, "documents")
    return containment_pairs(docs, shingle_k=3, max_df=50, threshold=0.6)


def qx38_model_scored_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve a trained LINEAR quality model at corpus scale: the model
    lives as DATA (a (feature, weight) table — here 4 rows built
    in-query; in production the output of a training job), collapses
    to a one-row broadcast map, and scoring is a single map-only
    projection: z = Σ w_f·x_f over engineered features, squashed to
    (0,1). No shuffle of the corpus, model swap = table swap.

    The squash is the algebraic z/(1+|z|) (shifted to (0,1)) rather
    than a logistic: division and abs are IEEE-exact in every engine,
    while exp() may differ in the last ulp between libms — the same
    engine-parity reasoning as plans/common.dec_sum."""
    docs = read(spark, sf_dir, "documents")
    weights = local_rows_df(
        spark,
        [
            ("len_norm", 0.9),
            ("stop_ratio", 1.4),
            ("mean_tok_len", -0.2),
            ("upper_ratio", -2.0),
        ],
        "feature string, weight double",
    )
    wmap = weights.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("feature", "weight")))
        ).alias("__w")
    )
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    feats = docs.select(
        "doc_id",
        F.least(n_tok / F.lit(64.0), F.lit(1.0)).alias("len_norm"),
        F.when(
            n_tok > 0,
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
            / n_tok.cast("double"),
        )
        .otherwise(0.0)
        .alias("stop_ratio"),
        F.when(n_tok > 0, n_chars / n_tok.cast("double"))
        .otherwise(0.0)
        .alias("mean_tok_len"),
        F.when(
            n_chars > 0,
            (
                n_chars
                - F.length(F.regexp_replace(F.col("text"), "[A-Z]", ""))
            )
            / n_chars.cast("double"),
        )
        .otherwise(0.0)
        .alias("upper_ratio"),
    )
    z = (
        F.col("__w")["len_norm"] * F.col("len_norm")
        + F.col("__w")["stop_ratio"] * F.col("stop_ratio")
        + F.col("__w")["mean_tok_len"] * F.col("mean_tok_len")
        + F.col("__w")["upper_ratio"] * F.col("upper_ratio")
    )
    squash = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    # UNROUNDED: z is a fixed-literal blend of integer-ratio features
    # (the dec_avg knife-edge class — a rational CAN land exactly on a
    # round-6 half-boundary); the raw squash and the raw >= compare
    # are the same IEEE DAG in both engines, hence bit-deterministic.
    return feats.crossJoin(F.broadcast(wmap)).select(
        "doc_id",
        squash.alias("model_score"),
        (squash >= 0.5).alias("keep"),
    )


def qx39_vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus VOCABULARY head: the 100 most frequent tokens with term
    and document frequencies — the first step of any tokenizer /
    vocab-induction job. Explode -> one hash aggregate on uniform
    token keys (map-side combine collapses each task's counts, so the
    shuffle carries one row per distinct token per task, not per
    occurrence) -> TakeOrderedAndProject top-100 with deterministic
    (count desc, token asc) order."""
    docs = read(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    counts = pairs.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("doc_id").alias("df"),
    )
    return counts.orderBy(
        F.col("tf").desc(), F.col("token").asc()
    ).limit(100)


_ORACLE_QX38 = """
WITH w AS (
  SELECT * FROM (VALUES
    ('len_norm', 0.9), ('stop_ratio', 1.4),
    ('mean_tok_len', -0.2), ('upper_ratio', -2.0)) AS t(feature, weight)
), wm AS (
  -- DuckDB map subscript yields a one-element list -> [1] extracts
  SELECT map_from_entries(list(struct_pack(
           k := feature, v := CAST(weight AS DOUBLE))
           ORDER BY feature)) AS wmap
  FROM w
), f AS (
  SELECT doc_id,
    least(len(list_filter(string_split(text, ' '), x -> x != '')) / 64.0,
          1.0) AS len_norm,
    CASE WHEN len(list_filter(string_split(text, ' '), x -> x != '')) > 0
         THEN len(list_filter(string_split(text, ' '), x ->
                x IN ('the','a','an','and','or','of','to','in','is','it')))
              / CAST(len(list_filter(string_split(text, ' '),
                     x -> x != '')) AS DOUBLE)
         ELSE 0.0 END AS stop_ratio,
    CASE WHEN len(list_filter(string_split(text, ' '), x -> x != '')) > 0
         THEN len(text) / CAST(len(list_filter(string_split(text, ' '),
                x -> x != '')) AS DOUBLE)
         ELSE 0.0 END AS mean_tok_len,
    CASE WHEN len(text) > 0
         THEN (len(text) - len(regexp_replace(text, '[A-Z]', '', 'g')))
              / CAST(len(text) AS DOUBLE)
         ELSE 0.0 END AS upper_ratio
  FROM documents
), z AS (
  SELECT doc_id,
    (wmap['len_norm'])[1] * len_norm + (wmap['stop_ratio'])[1] * stop_ratio
    + (wmap['mean_tok_len'])[1] * mean_tok_len
    + (wmap['upper_ratio'])[1] * upper_ratio AS zv
  FROM f, wm
)
SELECT doc_id,
  0.5 + 0.5 * zv / (1.0 + abs(zv)) AS model_score,
  (0.5 + 0.5 * zv / (1.0 + abs(zv)) >= 0.5) AS keep
FROM z
"""

_ORACLE_QX39 = """
WITH pairs AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                    x -> x != '')) AS token
  FROM documents
)
SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM pairs GROUP BY token
ORDER BY tf DESC, token ASC LIMIT 100
"""


def qx40_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSITE billion-scale ANN pipeline (FAISS IVF-PQ): the
    query's IVF cluster prunes the search to ~1/n_clusters of the
    corpus, the surviving candidates are scored by PQ asymmetric
    distance (codes + an 8x16 broadcast distance table — no float
    vectors touched), and only the top-20 ADC shortlist is exact
    cosine re-ranked to the final top-5. At 100 TB this is a
    partition-pruned scan of code columns (qx12's layout +
    qx34/qx35's scan) with a 20-row exact pass — corpus-size-
    independent probe cost.

    Output: (vec_id, cos_sim, adc_dist) — exact score, approximate
    score, for the final 5."""
    from gh_archive_clickhouse_spark.functions.vectors import (
        cosine_similarity,
    )
    from gh_archive_clickhouse_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    emb = read(spark, sf_dir, "embeddings")
    assigned = materialize(
        qx11_ivf_assign(spark, sf_dir), "qx40_ivf_assign"
    )
    cb = pq_codebook(emb)
    enc = pq_encode(emb, m=8, dim=EMB_DIM, codebook=cb)
    qrow = (
        emb.join(assigned, "vec_id")
        .filter(F.col("vec_id") == 42)
        .select(
            F.col("embedding").alias("q"), F.col("cluster_id").alias("qc")
        )
    )
    cands = (
        enc.join(assigned, "vec_id")
        .crossJoin(F.broadcast(qrow.select("qc")))
        .filter(F.col("cluster_id") == F.col("qc"))
        .select("vec_id", "codes")
    )
    shortlist = pq_adc_topk(
        cands, qrow.select("q"), cb, k_top=20, m=8, dim=EMB_DIM
    )
    return (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(qrow.select("q")))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "q"), 6).alias(
                "cos_sim"
            ),
            "adc_dist",
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(5)
    )


def qx41_batched_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED multi-query ANN: score a whole batch of query vectors
    (vec_id < 8 here; thousands in a serving job) against the corpus
    in ONE pass — broadcast the query batch, one map-side scoring
    fan-out, then per-query top-3 via a rank window partitioned by
    query id (uniform partitions, one shuffle). This is the serving
    shape when queries arrive in batches: corpus scanned once total,
    not once per query."""
    from gh_archive_clickhouse_spark.operators.similarity import (
        _with_norm,
    )
    from gh_archive_clickhouse_spark.functions.vectors import dot_unrolled

    from pyspark.sql import Window

    emb = read(spark, sf_dir, "embeddings")
    e = _with_norm(emb, "embedding", "__v", "__n", EMB_DIM)
    queries = _with_norm(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        "embedding",
        "__qv",
        "__qn",
        EMB_DIM,
    ).select("query_id", "__qv", "__qn")
    scored = (
        e.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.when(
                    (F.col("__n") > 0) & (F.col("__qn") > 0),
                    dot_unrolled("__v", "__qv", EMB_DIM)
                    / (F.col("__n") * F.col("__qn")),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "vec_id", "cos_sim", F.col("rk").cast("int"))
    )


_ORACLE_QX41 = f"""
WITH e AS (SELECT vec_id, {_ED} AS ed FROM embeddings),
q AS (SELECT vec_id AS query_id, ed AS qe FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({_sql_cosine('e.ed', 'q.qe')}, 6) AS cos_sim
  FROM e, q WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 3
"""


QX42_SHARDS = 4
QX42_SEED = "pipeline-order-v1"


def qx42_preprocess_pipeline(
    spark: SparkSession, sf_dir: str, probe: dict | None = None
) -> DataFrame:
    """THE END-TO-END PRE-TRAINING DATA PIPELINE as one job graph,
    run all the way to the VERIFIED ON-DISK ARTIFACT a trainer mounts
    — the user story every other qx query is a stage of:

      1. FUZZY DEDUP: LSH near-dup pairs → connected components →
         keep each cluster's min-id representative (qx31's cut);
      2. QUALITY FILTER: keep quality ≥ 0.75 (qx5's blend);
      3. DECONTAMINATION: drop docs whose distinct word-8-gram overlap
         with the benchmark split (source = src0) is ≥ 0.05, and drop
         the benchmark split itself (qx23's check);
      4. MIXTURE: resample the curated corpus to the rank-derived
         target weights (qx60's integer rate table over the CLEAN
         corpus — broadcast rates, map-only salted-hash keep);
      5. TRAINING ORDER: seeded reproducible shuffle (qx59);
      6. SEQUENCE PACKING: emit 256-token training sequences over the
         shuffled order with per-sequence content fingerprints
         (qx45's assembly + md5);
      7. SHARDS: contiguous-range shard assignment over the dense
         sequence ids, WRITTEN to disk via write_training_shards and
         integrity-checked by verify_training_shards before the
         result is returned (the pre-training check a trainer runs).

    Output: one row per packed sequence with its content fingerprint
    and shard — read back from the verified shard tree itself, so a
    row in the result IS a row a trainer would mount. Every stage
    keeps its individually-tested scale shape; Catalyst pipelines
    them into one job graph with materialization barriers at each
    fan-out.

    ``probe``: when a dict is passed, each stage's PRE-barrier frame
    is stashed in it (the materialization barriers truncate lineage,
    so the composed stage plans are only inspectable before their
    barrier) — the plan test asserts no stage ever goes quadratic.

    Cost/lifecycle notes (deliberate): every invocation re-runs the
    shard write + verify — the artifact IS the query's output, so the
    bench number for qx42 includes one sharded parquet write and one
    verification scan, not just query execution. Re-invoking releases
    the block-manager snapshot behind the PREVIOUS invocation's
    result (see :func:`snapshot_result`), so repeated bench/oracle
    runs hold O(1) storage.
    """
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors,
    )
    from gh_archive_clickhouse_spark.operators.packing import (
        mixture_gate,
        mixture_rates_from_counts,
        packed_sequence_fingerprints,
        seeded_shuffle,
        source_counts,
        verify_training_shards,
        write_training_shards,
    )
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        ngram_contamination,
        quality_features,
    )

    def _stage(name: str, df: DataFrame) -> DataFrame:
        if probe is not None:
            probe[name] = df
        return df

    docs = read(spark, sf_dir, "documents")
    # 1. dedup survivors
    pairs = qx9_lsh_candidates(spark, sf_dir).filter(
        F.col("jaccard") >= 0.7
    )
    # Materialized: the dedup cut (LSH + CC + anti-join) feeds every
    # later stage — without this each downstream consumer re-runs the
    # whole candidate/cluster pipeline (measured 2x wall time).
    kept = materialize(
        _stage("kept", dedup_survivors(docs, pairs)), "qx42_dedup_kept"
    )
    # 2. quality gate — a PURE PROJECTION stamp (quality_features),
    # not a feature-frame self-join: the score is a per-row function
    # of the survivor's own text, so joining it back on doc_id paid a
    # second scan of `kept` plus a join for something `withColumn`
    # computes map-only at the same scan (the qs15 per-batch form).
    # ensure_parallelism: the kept checkpoint lands AQE-coalesced to
    # ONE partition at fixture scale, serializing the regex-heavy
    # stamp on a single core (measured 0.46 s -> 0.13 s at 32 cores);
    # a well-partitioned cluster input passes through untouched.
    qkept = materialize(
        _stage(
            "qkept",
            ensure_parallelism(kept)
            .withColumn(
                "quality", quality_features()["quality"]
            )
            .filter(
                (F.col("quality") >= 0.75)
                & (F.col("source") != "src0")
            ),
        ),
        "qx42_quality_kept",
    )
    # 3. decontamination vs the benchmark split (from the RAW corpus:
    # the benchmark is external data, not subject to our dedup)
    rates = ngram_contamination(
        qkept, docs.filter(F.col("source") == "src0"), n=8
    ).select("doc_id", "rate")
    # Materialized: `clean` fans out to multiple consumers (the
    # mixture's spec/rate probes + the gated scan) — un-checkpointed,
    # the decontamination pipeline would execute once per consumer.
    clean = materialize(
        _stage(
            "clean",
            qkept.join(rates, "doc_id", "left")
            .filter(F.coalesce(F.col("rate"), F.lit(0.0)) < 0.05)
            .select("doc_id", "source", "text"),
        ),
        "qx42_clean",
    )
    # 4. mixture: rates from the CLEAN corpus snapshot (the mixture
    # spec governs the curated corpus, not the raw crawl) — ONE
    # per-source-count aggregate of the checkpointed clean table feeds
    # both the ranked spec and the rate table
    # (mixture_rates_from_counts: exact integer math, O(sources)
    # driver rows), the rate table broadcasts, the keep filter is
    # map-only at the scratch scan.
    _counts = source_counts(clean)
    mixed = mixture_gate(
        clean,
        mixture_rates_from_counts(
            spark,
            _counts,
            _ranked_weight_rows(_counts),
            budget_ppm=QX60_BUDGET_PPM,
        ),
        salt=QX60_SALT,
    )
    # 5.-6. training order + packing. Tokenize ONCE and materialize:
    # the token arrays feed the packing coordinates AND the slice
    # join-back (the qx45 barrier), and the seeded order feeds both
    # emission sides.
    ordered = materialize(
        _stage(
            "ordered",
            seeded_shuffle(
                mixed.select(
                    "doc_id", tokens(F.col("text")).alias("__t")
                ),
                seed=QX42_SEED,
            ),
        ),
        "qx42_ordered",
    )
    # Materialized: write_training_shards consumes the sequence frame
    # twice (the density-validation aggregate + the sharded write) —
    # unbarriered, the slice join-back + fingerprint aggregate would
    # execute twice.
    seqs = materialize(
        _stage(
            "seqs",
            packed_sequence_fingerprints(
                ordered, 256, order_col="shuffle_pos"
            ),
        ),
        "qx42_seqs",
    )
    # 7. the on-disk artifact: sequence ids from packing are dense
    # 0-based (every spanned id occurs), so they ARE the shard
    # position column — written, then integrity-verified exactly as a
    # trainer would before burning accelerator time, and the verified
    # tree itself is what the query returns.
    base = tempfile.mkdtemp(prefix="qx42_shards_")
    shards_path = f"{base}/shards"
    try:
        write_training_shards(seqs, shards_path, QX42_SHARDS, pos_col="seq_id")
        verify_training_shards(spark, shards_path)
        return snapshot_result(
            spark.read.schema(
                "seq_id long, n_slices bigint, n_tokens bigint, "
                "content_md5 string, shard int"
            )
            .parquet(shards_path)
            .select(
                "seq_id", "n_slices", "n_tokens", "content_md5", "shard"
            ),
            "qx42",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def qx43_lsh_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH RECALL measurement — the harness that tunes banding
    parameters before anyone trusts fuzzy dedup at 100 TB: take a
    deterministic ABSOLUTE-SIZE sample (the 256 docs with the smallest
    salted md5 hash — TakeOrdered, so sampling cost is one scan and
    the brute-force stage is bounded at 256² pairs NO MATTER the
    corpus size; a fractional sample would grow the all-pairs stage
    quadratically with the corpus), compute GROUND TRUTH near-dup
    pairs by exact word-3-gram Jaccard over the sample, and report
    what fraction the production LSH pipeline (qx9's banding) catches.

    Output: one row (n_true, n_caught, recall). recall is NULL when
    the sample holds no true pair (raise the sample size)."""
    from gh_archive_clickhouse_spark.functions.hashing import md5_long
    from gh_archive_clickhouse_spark.operators.dedup import shingle_sets

    docs = read(spark, sf_dir, "documents")
    sample = (
        docs.orderBy(
            md5_long(
                F.concat(F.lit("recall"), F.col("doc_id").cast("string"))
            ).asc(),
            F.col("doc_id").asc(),
        )
        .limit(256)
    )
    sh = materialize(
        shingle_sets(sample, "text", "doc_id", 3), "qx43_sample_sets"
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("__sh").alias("sha_")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("__sh").alias("shb_")
    )
    jac = shingle_jaccard()
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("j"))
        .filter(F.col("j") >= 0.7)
    )
    caught = qx9_lsh_candidates(spark, sf_dir).filter(
        F.col("jaccard") >= 0.7
    )
    marked = truth.join(caught, ["doc_a", "doc_b"], "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(
            F.col("jaccard").isNotNull().cast("long")
        ).alias("n_caught"),
        # UNROUNDED integer ratio (dec_avg class) — bit-deterministic.
        (
            F.sum(F.col("jaccard").isNotNull().cast("long"))
            / F.nullif(F.count(F.lit(1)), F.lit(0)).cast("double")
        ).alias("recall"),
    )


def _oracle_qx43() -> str:
    sh = _sql_shingles("text", 3)
    return f"""
WITH sample AS (
  SELECT doc_id, {sh} AS shl FROM documents
  ORDER BY ('0x' || substr(md5('recall' || CAST(doc_id AS VARCHAR)),
            1, 15))::BIGINT ASC, doc_id ASC
  LIMIT 256
), truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sample a JOIN sample b ON a.doc_id < b.doc_id
  WHERE len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl)) > 0
    AND round(CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
        / (len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl))),
        6) >= 0.7
), caught AS (
  SELECT doc_a, doc_b FROM ({_ORACLE_QX9}) WHERE jaccard >= 0.7
), marked AS (
  SELECT t.doc_a, (c.doc_a IS NOT NULL) AS hit
  FROM truth t LEFT JOIN caught c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT count(*) AS n_true,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(count(*), 0) AS recall
FROM marked
"""


def qx44_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DATA-QUALITY audit over the warehouse — the
    dbt-test / Deequ-style constraint pass every ingestion pipeline
    schedules: key uniqueness, non-null required columns, domain
    checks, and cross-table referential integrity, each reported as a
    violation count. Every check is a small aggregate or anti-join on
    its natural key — no full-table cross work; the union of one-row
    results is the audit report."""
    ev = read(spark, sf_dir, "events")
    orders = read(spark, sf_dir, "orders")
    cust = read(spark, sf_dir, "customer")
    li = read(spark, sf_dir, "lineitem")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.coalesce(F.first("n"), F.lit(0)).alias("n_violations"),
        )

    dup_events = ev.groupBy("event_id").count().filter(
        F.col("count") > 1
    ).agg(F.count(F.lit(1)).alias("n"))
    null_ts = ev.agg(
        F.sum(F.col("ts").isNull().cast("long")).alias("n")
    )
    bad_type = ev.filter(
        ~F.col("event_type").isin(
            "click", "error", "purchase", "signup", "view"
        )
    ).agg(F.count(F.lit(1)).alias("n"))
    orphan_orders = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    orphan_lines = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    neg_price = li.filter(F.col("l_extendedprice") < 0).agg(
        F.count(F.lit(1)).alias("n")
    )
    bad_discount = li.filter(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        check("events_unique_id", dup_events)
        .union(check("events_ts_not_null", null_ts))
        .union(check("events_type_domain", bad_type))
        .union(check("orders_customer_fk", orphan_orders))
        .union(check("lineitem_order_fk", orphan_lines))
        .union(check("lineitem_price_nonneg", neg_price))
        .union(check("lineitem_discount_range", bad_discount))
    )


_ORACLE_QX44 = """
SELECT 'events_unique_id' AS check_name, CAST(COALESCE((
  SELECT count(*) FROM (
    SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1
  )), 0) AS BIGINT) AS n_violations
UNION ALL
SELECT 'events_ts_not_null', CAST(COALESCE((
  SELECT sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) FROM events
  ), 0) AS BIGINT)
UNION ALL
SELECT 'events_type_domain', CAST(COALESCE((
  SELECT count(*) FROM events WHERE event_type NOT IN
    ('click', 'error', 'purchase', 'signup', 'view')), 0) AS BIGINT)
UNION ALL
SELECT 'orders_customer_fk', CAST(COALESCE((
  SELECT count(*) FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)), 0) AS BIGINT)
UNION ALL
SELECT 'lineitem_order_fk', CAST(COALESCE((
  SELECT count(*) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey)), 0) AS BIGINT)
UNION ALL
SELECT 'lineitem_price_nonneg', CAST(COALESCE((
  SELECT count(*) FROM lineitem WHERE l_extendedprice < 0), 0) AS BIGINT)
UNION ALL
SELECT 'lineitem_discount_range', CAST(COALESCE((
  SELECT count(*) FROM lineitem
  WHERE l_discount < 0 OR l_discount > 1), 0) AS BIGINT)
"""


_ORACLE_QX33 = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
              AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
    COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      AS tokens_before
  FROM t
)
SELECT doc_id, n_tokens, tokens_before,
  CAST(tokens_before // 256 AS BIGINT) AS seq_id,
  CAST(tokens_before % 256 AS BIGINT) AS seq_offset,
  (n_tokens > 0 AND
   ((tokens_before + n_tokens - 1) // 256) > (tokens_before // 256))
    AS crosses_boundary
FROM c
"""

# Shared codebook/encode CTEs for the PQ oracles: mirror the Spark
# fold orders exactly (sequential list_aggregate sums, first-wins
# strict-< argmin with explicit (d, c) tie-break).
_SQL_PQ_ENC = """
cb AS (
  SELECT list(struct_pack(code := CAST(vec_id AS INT),
              cvec := list_transform(embedding, x -> CAST(x AS DOUBLE)))
              ORDER BY vec_id) AS cbl
  FROM embeddings WHERE vec_id < 16
),
v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings),
enc AS (
  SELECT vec_id,
    list_transform(range(0, 8), mm ->
      list_reduce(
        list_transform(cbl, e -> struct_pack(d :=
          list_aggregate(list_transform(range(1, 9), i ->
            (ve[mm*8+i] - e.cvec[mm*8+i]) * (ve[mm*8+i] - e.cvec[mm*8+i])),
            'sum'),
          c := e.code)),
        (acc, el) -> CASE WHEN el.d < acc.d OR
                          (el.d = acc.d AND el.c < acc.c)
                     THEN el ELSE acc END).c) AS codes
  FROM v, cb
)
"""

_ORACLE_QX34 = (
    f"WITH {_SQL_PQ_ENC} SELECT vec_id, array_to_string("
    f"list_transform(codes, c -> CAST(c AS VARCHAR)), ',') AS codes_s "
    f"FROM enc"
)

_ORACLE_QX35 = f"""
WITH {_SQL_PQ_ENC},
q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0),
dt AS (
  SELECT list_transform(range(0, 8), mm ->
    list_transform(cbl, e ->
      list_aggregate(list_transform(range(1, 9), i ->
        (qe[mm*8+i] - e.cvec[mm*8+i]) * (qe[mm*8+i] - e.cvec[mm*8+i])),
        'sum'))) AS dtl
  FROM q, cb
)
SELECT vec_id, round(list_aggregate(list_transform(range(0, 8), mm ->
    dtl[mm+1][codes[mm+1]+1]), 'sum'), 6) AS adc_dist
FROM enc, dt WHERE vec_id != 0
ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
"""

_ORACLE_QX40 = f"""
WITH {_SQL_PQ_ENC},
c AS (SELECT CAST(vec_id AS INTEGER) AS centroid_id, {_ED} AS cd
      FROM embeddings WHERE vec_id < 8),
ascored AS (
  SELECT e.vec_id, c.centroid_id,
         round({_sql_cosine('CAST(e.embedding AS DOUBLE[])', 'c.cd')}, 6)
           AS sim
  FROM embeddings e, c
), abest AS (
  SELECT vec_id, centroid_id, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rk
  FROM ascored
), assign AS (
  SELECT vec_id, centroid_id AS cluster_id FROM abest WHERE rk = 1
), q AS (
  SELECT CAST(e.embedding AS DOUBLE[]) AS qe, a.cluster_id AS qc
  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
  WHERE e.vec_id = 42
), dt AS (
  SELECT list_transform(range(0, 8), mm ->
    list_transform(cbl, el ->
      list_aggregate(list_transform(range(1, 9), i ->
        (qe[mm*8+i] - el.cvec[mm*8+i]) * (qe[mm*8+i] - el.cvec[mm*8+i])),
        'sum'))) AS dtl
  FROM q, cb
), short AS (
  SELECT en.vec_id,
         round(list_aggregate(list_transform(range(0, 8), mm ->
           dtl[mm+1][en.codes[mm+1]+1]), 'sum'), 6) AS adc_dist
  FROM enc en JOIN assign a ON en.vec_id = a.vec_id, q, dt
  WHERE a.cluster_id = q.qc
  ORDER BY adc_dist ASC, en.vec_id ASC LIMIT 20
)
SELECT s.vec_id,
       round({_sql_cosine('CAST(e.embedding AS DOUBLE[])', 'qe')}, 6)
         AS cos_sim,
       s.adc_dist
FROM short s JOIN embeddings e ON s.vec_id = e.vec_id, q
ORDER BY cos_sim DESC, s.vec_id ASC LIMIT 5
"""


def _oracle_qx42() -> str:
    toks = _SQL_TOKENS.format(col="text")
    g8 = (
        "list_transform(generate_series(1, len(t) - 7), "
        "i -> ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), "
        "1, 15))::BIGINT)"
    )
    return f"""
WITH RECURSIVE cand AS ({_ORACLE_QX9}),
pairs AS (SELECT doc_a, doc_b FROM cand WHERE jaccard >= 0.7),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (SELECT node, node AS label FROM nodes
          UNION
          SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
cc AS (SELECT node AS doc_id, min(label) AS cluster_rep
       FROM reach GROUP BY node),
kept AS (
  SELECT d.* FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_rep)
),
feats AS (
  SELECT doc_id, source, text, {toks} AS toks, length(text) AS nch,
    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
      AS npunct,
    length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
      AS nalpha
  FROM kept
),
qual AS (
  SELECT doc_id, source, text, len(toks) AS ntok,
    0.4 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
      + 0.3 * (CASE WHEN nch > 0
               THEN CAST(nalpha AS DOUBLE) / nch ELSE 0.0 END)
      + 0.2 * (1.0 - abs((CASE WHEN len(toks) > 0
               THEN CAST(len(list_filter(toks,
                    t -> list_contains({_STOP_LIST_SQL}, t))) AS DOUBLE)
                    / len(toks) ELSE 0.0 END) - 0.3))
      + 0.1 * (1.0 - (CASE WHEN nch > 0
               THEN CAST(npunct AS DOUBLE) / nch ELSE 0.0 END))
      AS quality
  FROM feats
),
qkept AS (SELECT * FROM qual WHERE quality >= 0.75 AND source <> 'src0'),
btoks AS (SELECT {toks} AS t FROM documents WHERE source = 'src0'),
bgr AS (SELECT DISTINCT unnest({g8}) AS g FROM btoks WHERE len(t) >= 8),
ktoks AS (SELECT doc_id, {toks} AS t FROM qkept),
kgr AS (SELECT doc_id, unnest({g8}) AS g FROM ktoks WHERE len(t) >= 8),
rates AS (
  SELECT doc_id,
    CAST(count(DISTINCT CASE WHEN g IN (SELECT g FROM bgr)
               THEN g END) AS DOUBLE) / count(DISTINCT g) AS rate
  FROM kgr GROUP BY doc_id
),
clean AS (
  SELECT k.doc_id, k.source, k.text
  FROM qkept k LEFT JOIN rates r ON k.doc_id = r.doc_id
  WHERE COALESCE(r.rate, 0.0) < 0.05
),
{mixture_rates_cte("clean", prefix="m")},
mixed AS (
  SELECT c.doc_id, c.text
  FROM clean c JOIN mrates r USING (source)
  WHERE {mixture_keep_sql("c")}
),
ordered AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '{QX42_SEED}')
                    || '-' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
         ) - 1 AS BIGINT) AS shuffle_pos,
         {toks} AS tk
  FROM mixed
),
oc AS (
  SELECT shuffle_pos, tk, CAST(len(tk) AS BIGINT) AS n_tokens,
    COALESCE(CAST(sum(len(tk)) OVER (ORDER BY shuffle_pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      AS tokens_before
  FROM ordered
),
osp AS (
  SELECT shuffle_pos, tk, n_tokens, tokens_before,
         unnest(range(tokens_before // 256,
                      (tokens_before + n_tokens - 1) // 256 + 1)) AS seq
  FROM oc WHERE n_tokens > 0
),
osl AS (
  SELECT seq AS seq_id,
         greatest(seq * 256, tokens_before) - seq * 256 AS seq_pos,
         least((seq + 1) * 256, tokens_before + n_tokens)
           - greatest(seq * 256, tokens_before) AS slice_len,
         tk[CAST(greatest(seq * 256, tokens_before) - tokens_before + 1
                 AS BIGINT) :
            CAST(least((seq + 1) * 256, tokens_before + n_tokens)
                 - tokens_before AS BIGINT)] AS st
  FROM osp
),
seqs AS (
  SELECT seq_id,
         CAST(count(*) AS BIGINT) AS n_slices,
         CAST(sum(slice_len) AS BIGINT) AS n_tokens,
         md5(string_agg(array_to_string(st, ' '), ' ' ORDER BY seq_pos))
           AS content_md5
  FROM osl GROUP BY seq_id
)
SELECT seq_id, n_slices, n_tokens, content_md5,
       CAST((seq_id * {QX42_SHARDS})
            // (SELECT count(*) FROM seqs) AS INT) AS shard
FROM seqs
"""


_ORACLE_QX36 = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
), ch AS (
  SELECT doc_id, i - 1 AS chunk_idx,
    ('0x' || substr(md5(
       array_to_string(t[(i-1)*16+1 : (i-1)*16+16], ' ')), 1, 15))::BIGINT
      AS h
  FROM toks CROSS JOIN
       unnest(generate_series(1, CAST(ceil(len(t)/16.0) AS INT))) AS u(i)
  WHERE len(t) >= 1
), fl AS (
  SELECT doc_id,
    (doc_id != first_value(doc_id) OVER w OR
     chunk_idx != first_value(chunk_idx) OVER w) AS is_dup
  FROM ch
  WINDOW w AS (PARTITION BY h ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT doc_id, count(*) AS n_chunks,
  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
  sum(CASE WHEN is_dup THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE) AS dup_frac
FROM fl GROUP BY doc_id
"""


def _oracle_qx37() -> str:
    toks = _SQL_TOKENS.format(col="text")
    h = _sql_word_hash31("s")
    # ALL shingle instances (non-distinct), hashed, then DISTINCT on
    # (doc_id, hash) — mirrors the Spark side's distinct-after-hash so
    # 31-bit collision behavior is engine-identical.
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
), sh AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
           i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks WHERE len(t) >= 3
), inv AS (
  SELECT DISTINCT doc_id, {h} AS hh FROM sh
), kept AS (
  SELECT i.doc_id, i.hh FROM inv i
  JOIN (SELECT hh FROM inv GROUP BY hh HAVING count(*) <= 50) d USING (hh)
), sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM kept a JOIN kept b ON a.hh = b.hh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
  shared / CAST(least(sa.sz, sb.sz) AS DOUBLE) AS containment
FROM shared JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
WHERE shared / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= 0.6
"""


QUERIES = [
    Query(
        "qx33_sequence_packing",
        "concat-and-chunk sequence packing coordinates "
        "(hierarchical prefix sum, 256-token budget)",
        qx33_sequence_packing,
        _ORACLE_QX33,
        tags=("ext", "packing"),
    ),
    Query(
        "qx45_packed_sequences",
        "packed-sequence emission: per-sequence slice layout + "
        "content fingerprint reconstructed from token arrays",
        qx45_packed_sequences,
        _ORACLE_QX45,
        tags=("ext", "packing"),
    ),
    Query(
        "qx46_densified_packing",
        "id densification (distributed zipWithIndex) + packing over "
        "sparse 64-bit-spaced order keys",
        qx46_densified_packing,
        _ORACLE_QX46,
        tags=("ext", "packing"),
    ),
    Query(
        "qx47_ivf_blocked_neardup",
        "embedding near-dup pairs blocked by IVF cluster (the "
        "label-free production blocking path)",
        qx47_ivf_blocked_neardup,
        _ORACLE_QX47,
        tags=("ext", "dedup", "similarity"),
    ),
    Query(
        "qx48_embedding_decontamination",
        "benchmark decontamination in embedding space: max cosine vs "
        "broadcast benchmark set, map-only corpus pass",
        qx48_embedding_decontamination,
        _ORACLE_QX48,
        tags=("ext", "similarity", "decontamination"),
    ),
    Query(
        "qx49_corpus_split",
        "deterministic salted-hash train/val/test split "
        "(coordination-free, partitioning-invariant)",
        qx49_corpus_split,
        _ORACLE_QX49,
        tags=("ext",),
    ),
    Query(
        "qx50_long_gram_overlap",
        "ExactSubstr-style verbatim-span pairs over sliding 20-token "
        "grams (planted span copies, df-capped inverted index)",
        qx50_long_gram_overlap,
        _ORACLE_QX50,
        tags=("ext", "dedup"),
    ),
    Query(
        "qx51_bpe_vocab_build",
        "BPE vocabulary build: 8 merge-pair elections over the "
        "word-frequency table (map-side-combined pair counts, "
        "TakeOrdered election, HOF merge fold)",
        qx51_bpe_vocab_build,
        _ORACLE_QX51,
        tags=("ext", "text", "iterative"),
    ),
    Query(
        "qx52_bpe_encode",
        "tokenizer encode with the learned merge table: distinct-word "
        "table encoded once, per-word token counts joined back for "
        "per-doc totals",
        qx52_bpe_encode,
        _ORACLE_QX52,
        tags=("ext", "text", "iterative"),
    ),
    Query(
        "qx53_budget_selection",
        "token-budget corpus selection: best docs by quality until "
        "12k cumulative tokens, via the two-level prefix-sum "
        "recurrence (no global running-sum window)",
        qx53_budget_selection,
        _ORACLE_QX53,
        tags=("ext", "text", "quality"),
    ),
    Query(
        "qx54_subdivided_neardup",
        "embedding near-dup with automatic hot-block subdivision: "
        "over-cap blocks re-bucketed by SRP and paired within "
        "(label, bucket)",
        qx54_subdivided_neardup,
        _ORACLE_QX54,
        tags=("ext", "dedup", "similarity"),
    ),
    Query(
        "qx55_rarity_score",
        "inverse-frequency rarity per doc (perplexity-proxy LM "
        "filter), integer-exact via BIGINT floor division",
        qx55_rarity_score,
        _ORACLE_QX55,
        tags=("ext", "text", "quality"),
    ),
    Query(
        "qx56_quality_dedup_cut",
        "quality-aware canonical cut: each duplicate cluster keeps "
        "its highest-quality member (deterministic max_by argmax), "
        "not the min-id one",
        qx56_quality_dedup_cut,
        _ORACLE_QX56,
        tags=("ext", "dedup", "quality", "iterative"),
    ),
    Query(
        "qx57_split_leakage_cut",
        "eval-leakage removal: train docs near-dupping val/test docs "
        "(sided cross-split banding + exact-Jaccard verify) anti-join "
        "out of the train split",
        qx57_split_leakage_cut,
        _ORACLE_QX57,
        tags=("ext", "dedup", "quality"),
    ),
    Query(
        "qx58_bpe_encode_kernel",
        "tokenizer encode at production vocabulary size: 258-entry "
        "merge table broadcast to an Arrow-batched kernel, plan size "
        "independent of merge count",
        qx58_bpe_encode_kernel,
        _ORACLE_QX58,
        tags=("ext", "text"),
    ),
    Query(
        "qx63_bpe_vocab_build_batched",
        "batched BPE vocabulary build (the production path): top-8 "
        "mutually non-conflicting pairs per round, one constant-depth "
        "fold application, 24 merges",
        qx63_bpe_vocab_build_batched,
        _ORACLE_QX63,
        tags=("ext", "text", "iterative"),
    ),
    Query(
        "qx59_seeded_shuffle",
        "deterministic seeded corpus shuffle: position = rank of "
        "md5(id || seed) via the two-level densify rank, no global "
        "window",
        qx59_seeded_shuffle,
        _ORACLE_QX59,
        tags=("ext", "sampling"),
    ),
    Query(
        "qx60_mixture_resample",
        "materialized arbitrary-weight mixture resample: caller "
        "weights frame -> integer ppm rates, deterministic "
        "salted-hash keep, map-only filter",
        qx60_mixture_resample,
        _ORACLE_QX60,
        tags=("ext", "sampling"),
    ),
    Query(
        "qx61_training_shards",
        "contiguous-order training-shard assignment over the seeded "
        "shuffle: shard = pos * n DIV total, map-only BIGINT "
        "arithmetic with the validated total inlined",
        qx61_training_shards,
        _ORACLE_QX61,
        tags=("ext", "sampling"),
    ),
    Query(
        "qx62_packed_training_shards",
        "training shards of packed sequences: qx45 emission -> "
        "seeded shuffle on seq_id -> contiguous shard assignment, "
        "content fingerprints carried to the shard",
        qx62_packed_training_shards,
        _ORACLE_QX62,
        tags=("ext", "packing", "sampling"),
    ),
    Query(
        "qx34_pq_encode",
        "product-quantization encode: 64-d floats -> 8 codes, "
        "map-only vs broadcast codebook",
        qx34_pq_encode,
        _ORACLE_QX34,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx35_pq_adc_topk",
        "PQ asymmetric-distance top-10 scan (distance-table "
        "lookups, TakeOrdered merge)",
        qx35_pq_adc_topk,
        _ORACLE_QX35,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx36_passage_dedup",
        "passage-level (16-token chunk) duplicate fraction per doc",
        qx36_passage_dedup,
        _ORACLE_QX36,
        tags=("ext", "dedup"),
    ),
    Query(
        "qx37_containment_neardup",
        "containment near-dup pairs over word 3-shingles "
        "(inverted index + stop-shingle df cap)",
        qx37_containment_neardup,
        _oracle_qx37(),
        tags=("ext", "dedup"),
    ),
    Query(
        "qx40_ivfpq_search",
        "composite IVF-PQ ANN search: cluster-pruned candidates, "
        "ADC shortlist, exact top-5 re-rank",
        qx40_ivfpq_search,
        _ORACLE_QX40,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx41_batched_topk",
        "batched multi-query exact ANN: one corpus pass, per-query "
        "top-3 via rank window",
        qx41_batched_topk,
        _ORACLE_QX41,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx43_lsh_recall_probe",
        "LSH recall probe: brute-force truth on a bounded sample vs "
        "the production banding pipeline",
        qx43_lsh_recall_probe,
        _oracle_qx43(),
        tags=("ext", "dedup", "measurement"),
    ),
    Query(
        "qx44_data_quality_audit",
        "declarative data-quality audit: uniqueness, null, domain, "
        "and referential-integrity violation counts",
        qx44_data_quality_audit,
        _ORACLE_QX44,
        tags=("ext", "quality", "audit"),
    ),
    Query(
        "qx42_preprocess_pipeline",
        "end-to-end pre-training pipeline: fuzzy dedup -> quality "
        "gate -> decontamination -> mixture -> seeded order -> "
        "sequence packing -> verified training shards on disk",
        qx42_preprocess_pipeline,
        _oracle_qx42(),
        tags=("ext", "dedup", "pipeline", "iterative"),
    ),
    Query(
        "qx38_model_scored_filter",
        "linear quality model served map-only via broadcast "
        "weight map (model-as-data)",
        qx38_model_scored_filter,
        _ORACLE_QX38,
        tags=("ext", "text"),
    ),
    Query(
        "qx39_vocab_heavy_hitters",
        "top-100 vocabulary heavy hitters with term/doc "
        "frequencies",
        qx39_vocab_heavy_hitters,
        _ORACLE_QX39,
        tags=("ext", "text"),
    ),
    Query(
        "qx1_exact_dedup",
        "exact text dedup by sha2-256 content hash (lowest doc_id wins)",
        qx1_exact_dedup,
        """
        SELECT doc_id, sha256(text) AS text_sha, lang FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY sha256(text) ORDER BY doc_id ASC) AS rn
          FROM documents) WHERE rn = 1
        """,
        tags=("ext", "dedup"),
    ),
    Query(
        "qx2_cosine_topk",
        "brute-force cosine top-10 vs the vec_id=0 query vector",
        qx2_cosine_topk,
        _ORACLE_QX2,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx3_token_lang_stats",
        "per-language corpus stats (docs/tokens/chars)",
        qx3_token_lang_stats,
        f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(len({_TOKS})) AS DOUBLE) / count(*) AS avg_tokens
        FROM documents GROUP BY lang
        """,
        tags=("ext", "text"),
    ),
    Query(
        "qx4_language_id",
        "heuristic marker-word language identification",
        qx4_language_id,
        _ORACLE_QX4,
        tags=("ext", "text"),
    ),
    Query(
        "qx5_quality_score",
        "document quality features + composite score",
        qx5_quality_score,
        _ORACLE_QX5,
        tags=("ext", "text"),
    ),
    Query(
        "qx6_fingerprint",
        "rolling polynomial fingerprint of the first 32 tokens",
        qx6_fingerprint,
        _ORACLE_QX6,
        tags=("ext", "text"),
    ),
    Query(
        "qx7_simhash",
        "60-bit SimHash fingerprints over distinct words",
        qx7_simhash,
        _ORACLE_QX7,
        tags=("ext", "dedup"),
    ),
    Query(
        "qx8_minhash_signature",
        "16-element MinHash signatures over 3-word shingles",
        qx8_minhash_signature,
        _ORACLE_QX8,
        tags=("ext", "dedup"),
    ),
    Query(
        "qx9_lsh_candidates",
        "banded-LSH candidate pairs + exact shingle-Jaccard verify",
        qx9_lsh_candidates,
        _ORACLE_QX9,
        tags=("ext", "dedup"),
    ),
    Query(
        "qx10_embedding_neardup",
        "label-blocked embedding near-dup pairs (cosine ≥ 0.5)",
        qx10_embedding_neardup,
        _ORACLE_QX10,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx11_ivf_assign",
        "IVF: nearest-centroid assignment (8 fixed centroids)",
        qx11_ivf_assign,
        _ORACLE_QX11,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx12_ivf_topk",
        "IVF ANN probe: top-5 within the query's cluster",
        qx12_ivf_topk,
        _ORACLE_QX12,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx16_token_quantiles",
        "pandas grouped-agg UDAF: per-lang token-count quantiles",
        qx16_token_quantiles,
        f"""
        WITH c AS (SELECT lang, len({_TOKS}) AS n_tokens FROM documents)
        SELECT lang,
               round(percentile_cont(0.25) WITHIN GROUP (ORDER BY n_tokens), 6)
                 AS p25_tokens,
               round(percentile_cont(0.50) WITHIN GROUP (ORDER BY n_tokens), 6)
                 AS p50_tokens,
               round(percentile_cont(0.75) WITHIN GROUP (ORDER BY n_tokens), 6)
                 AS p75_tokens
        FROM c GROUP BY lang
        """,
        tags=("ext", "udf"),
    ),
    Query(
        "qx17_user_event_ranks",
        "applyInPandas grouped-map: per-user ordinal event ranks",
        qx17_user_event_ranks,
        """
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
               value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id, value) AS user_rank
        FROM events WHERE user_id % 7 = 0
        """,
        tags=("ext", "udf"),
    ),
    Query(
        "qx18_udtf_bigrams",
        "Python UDTF: lateral word-bigram expansion over a doc sample",
        qx18_udtf_bigrams,
        f"""
        WITH d AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id % 50 = 0
        )
        SELECT doc_id,
               CAST(i AS INTEGER) AS pos,
               toks[i] || ' ' || toks[i + 1] AS bigram
        FROM d, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)
        """,
        tags=("ext", "udf"),
    ),
    Query(
        "qx13_simhash_neardup",
        "SimHash near-dup pairs: banded blocking + Hamming ≤ 3",
        qx13_simhash_neardup,
        _ORACLE_QX13,
        tags=("ext", "dedup"),
    ),
    Query(
        "qx14_srp_buckets",
        "sign-random-projection LSH bucket per embedding",
        qx14_srp_buckets,
        _ORACLE_QX14,
        tags=("ext", "similarity"),
    ),
    Query(
        "qx15_srp_topk",
        "SRP-LSH ANN probe: top-5 cosine within the query's bucket",
        qx15_srp_topk,
        _ORACLE_QX15,
        tags=("ext", "similarity"),
    ),
    Query(
        "qm1_multimodal_meta",
        "multimodal metadata: binary payload size/hash/mime",
        qm1_multimodal_meta,
        """
        SELECT doc_id,
               'text/plain' AS mime,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS sha
        FROM documents
        """,
        tags=("ext", "multimodal"),
    ),
    Query(
        "qm2_image_features",
        "mapInPandas decode plumbing: Arrow-batched fake image decode",
        qm2_image_features,
        """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS sha,
               CAST(octet_length(encode(text)) % 640 AS INTEGER) AS fake_width,
               CAST(octet_length(encode(text)) % 480 AS INTEGER) AS fake_height
        FROM documents
        """,
        tags=("ext", "multimodal", "pandas-udf"),
    ),
    Query(
        "qx19_bpe_token_stats",
        "token counting: whitespace vs BPE-ish regex, per doc",
        qx19_bpe_token_stats,
        f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                    AS INTEGER) AS n_bpe_tokens,
               CASE WHEN len({_TOKS}) > 0 THEN
                 CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                       AS DOUBLE) / len({_TOKS})
               END AS bpe_per_ws
        FROM documents
        """,
        tags=("ext", "text"),
    ),
    Query(
        "qx20_chargram_jaccard",
        "char-4-gram MinHash-LSH near-dup pairs + exact Jaccard",
        qx20_chargram_jaccard,
        _ORACLE_QX20,
        tags=("ext", "dedup"),
    ),
    Query(
        "qx21_deterministic_sample",
        "deterministic stratified sample (50% en / 20% rest) by hash",
        qx21_deterministic_sample,
        f"""
        SELECT lang,
               count(*) AS n_sampled,
               min(doc_id) AS min_id,
               max(doc_id) AS max_id,
               CAST(sum(doc_id) AS BIGINT) AS sum_id
        FROM documents
        WHERE ({_sql_word_hash31("'sample_' || CAST(doc_id AS VARCHAR)")} % 100)
              < (CASE WHEN lang = 'en' THEN 50 ELSE 20 END)
        GROUP BY lang
        """,
        tags=("ext", "sampling"),
    ),
    Query(
        "qx22_tfidf_top_terms",
        "per-doc top-3 TF-IDF terms (ranked by rounded tf*idf score)",
        qx22_tfidf_top_terms,
        f"""
        WITH toks AS (
          SELECT doc_id, unnest({_SQL_TOKENS.format(col='text')}) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                 round(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6)
                   AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ), ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY tfidf DESC, df ASC, term ASC
                 ) AS rank
          FROM scored
        )
        SELECT doc_id, term, CAST(rank AS INTEGER) AS rank, tf, df, tfidf
        FROM ranked WHERE rank <= 3
        """,
        tags=("ext", "text"),
    ),
    Query(
        "qx23_ngram_contamination",
        "benchmark decontamination: distinct word-8-gram overlap rate",
        qx23_ngram_contamination,
        f"""
        WITH toks AS (
          SELECT doc_id, source,
                 {_SQL_TOKENS.format(col='text')} AS t
          FROM documents
        ), gr AS (
          SELECT doc_id, source,
                 unnest(list_transform(generate_series(1, len(t) - 7),
                   i -> ('0x' || substr(md5(
                     array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT))
                   AS g
          FROM toks WHERE len(t) >= 8
        ), bench AS (
          SELECT DISTINCT g FROM gr WHERE source = 'src0'
        ), marked AS (
          SELECT doc_id, g,
                 CASE WHEN g IN (SELECT g FROM bench)
                      THEN g ELSE NULL END AS hit_g
          FROM gr WHERE source <> 'src0'
        )
        SELECT doc_id, count(DISTINCT g) AS n_grams,
               count(DISTINCT hit_g) AS n_contaminated,
               CAST(count(DISTINCT hit_g) AS DOUBLE)
                     / count(DISTINCT g) AS rate
        FROM marked GROUP BY doc_id
        """,
        tags=("ext", "text", "dedup"),
    ),
    Query(
        "qx24_embedding_quantize",
        "int8 max-abs embedding quantization with integer checksums",
        qx24_embedding_quantize,
        """
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
          FROM embeddings
        ), s AS (
          SELECT vec_id, ed,
                 list_max(list_transform(ed, x -> abs(x))) AS scale
          FROM e
        ), q AS (
          SELECT vec_id, scale,
                 CASE WHEN scale > 0 THEN
                   list_transform(ed,
                     x -> CAST(round(x * 127 / scale, 0) AS INTEGER))
                 ELSE list_transform(ed, x -> 0) END AS qv
          FROM s
        )
        SELECT vec_id, round(scale, 6) AS scale_r,
               CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
               CAST(list_aggregate(list_transform(qv, x -> abs(x)),
                                   'sum') AS BIGINT) AS q_l1,
               CAST(len(qv) AS INTEGER) AS dim
        FROM q
        """,
        tags=("ext", "similarity"),
    ),
    Query(
        "qm3_frame_sample",
        "mapInPandas frame sampling: every-4th 64-char frame fingerprint",
        qm3_frame_sample,
        """
        WITH idx AS (
          SELECT doc_id, text,
                 unnest(range(0,
                        CAST(ceil(length(text) / 64.0) AS BIGINT), 4)) AS i
          FROM documents
        )
        SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
               md5(substring(text, CAST(i * 64 + 1 AS INTEGER), 64))
                 AS frame_md5
        FROM idx
        """,
        tags=("ext", "multimodal"),
    ),
    Query(
        "qm4_resize_plumbing",
        "mapInPandas binary resize plumbing: stamped dims + payload bytes",
        qm4_resize_plumbing,
        """
        SELECT doc_id, CAST(224 AS INTEGER) AS out_width,
               CAST(224 AS INTEGER) AS out_height,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        FROM documents
        """,
        tags=("ext", "multimodal"),
    ),
    Query(
        "qx25_kmeans_ivf_build",
        "IVF coarse-quantizer build: 2 deterministic Lloyd iterations",
        qx25_kmeans_ivf_build,
        """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), en AS (
  SELECT vec_id, v,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS n
  FROM e
), c0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS cn
  FROM e WHERE vec_id < 8
),
scored1 AS (
  SELECT en.vec_id, c0.cid,
         round(list_aggregate(list_transform(en.v, (x,j) -> x * c0.cv[j]),
                              'sum') / (en.n * c0.cn), 6) AS sim
  FROM en CROSS JOIN c0
), best1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
    FROM scored1
  ) WHERE rk = 1
), mem1 AS (
  SELECT b.cid, unnest(en.v) AS x,
         unnest(range(1, len(en.v) + 1)) AS pos
  FROM best1 b JOIN en USING (vec_id)
), m1 AS (
  SELECT cid, pos,
         round(CAST(sum(CAST(x AS DECIMAL(38,20))) AS DOUBLE)
               / count(*), 6) AS c_val,
         count(*) AS n_members
  FROM mem1 GROUP BY 1, 2
), c1 AS (
  SELECT cid, list(c_val ORDER BY pos) AS cv,
         sqrt(list_aggregate(list_transform(list(c_val ORDER BY pos),
                                            x -> x * x), 'sum')) AS cn
  FROM m1 GROUP BY cid
),
scored2 AS (
  SELECT en.vec_id, c1.cid,
         round(list_aggregate(list_transform(en.v, (x,j) -> x * c1.cv[j]),
                              'sum') / (en.n * c1.cn), 6) AS sim
  FROM en CROSS JOIN c1
), best2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
    FROM scored2
  ) WHERE rk = 1
), mem2 AS (
  SELECT b.cid, unnest(en.v) AS x,
         unnest(range(1, len(en.v) + 1)) AS pos
  FROM best2 b JOIN en USING (vec_id)
), m2 AS (
  SELECT cid, pos,
         round(CAST(sum(CAST(x AS DECIMAL(38,20))) AS DOUBLE)
               / count(*), 6) AS c_val,
         count(*) AS n_members
  FROM mem2 GROUP BY 1, 2
), c2 AS (
  SELECT cid, list(c_val ORDER BY pos) AS cv,
         sqrt(list_aggregate(list_transform(list(c_val ORDER BY pos),
                                            x -> x * x), 'sum')) AS cn
  FROM m2 GROUP BY cid
)
SELECT cid AS cluster_id, CAST(pos - 1 AS INTEGER) AS pos, c_val, n_members
FROM m2
""",
        tags=("ext", "similarity", "iterative"),
    ),
    Query(
        "qm5_audio_features",
        "mapInPandas audio-window features: per-256-sample mean/RMS",
        qm5_audio_features,
        """
        WITH w AS (
          SELECT doc_id, text,
                 unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT),
                              1)) AS win
          FROM documents
        ), c AS (
          SELECT doc_id, win,
                 unnest(range(1, least(256,
                        length(text) - win * 256) + 1)) AS j,
                 text
          FROM w
        ), s AS (
          SELECT doc_id, win,
                 ord(substring(text, CAST(win * 256 + j AS INTEGER), 1))
                   AS code
          FROM c
        )
        SELECT doc_id, CAST(win AS INTEGER) AS win,
               CAST(count(*) AS INTEGER) AS n_samples,
               round(CAST(sum(code) AS DOUBLE) / count(*), 6) AS mean_code,
               round(sqrt(CAST(sum(code * code) AS DOUBLE) / count(*)), 6)
                 AS rms
        FROM s GROUP BY 1, 2
        """,
        tags=("ext", "multimodal"),
    ),
    Query(
        "qm6_real_image_decode",
        "real PNG decode kernel: encode 8x8 doc-derived PNGs, decode "
        "bytes back, emit dims + mean pixel",
        qm6_real_image_decode,
        """
        SELECT d.doc_id,
               CAST(8 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS n_channels,
               round(CAST(sum((d.doc_id * 31 + r.range) % 256) AS DOUBLE)
                     / 64, 6) AS mean_px
        FROM documents d CROSS JOIN range(64) r
        GROUP BY d.doc_id
        """,
        tags=("ext", "multimodal"),
    ),
    Query(
        "qm7_image_dedup_ahash",
        "image dedup: perceptual average-hash over real decoded "
        "pixels, min-id representative per signature",
        qm7_image_dedup_ahash,
        _ORACLE_QM7,
        tags=("ext", "multimodal", "dedup"),
    ),
    Query(
        "qm8_real_audio_decode",
        "real WAV decode kernel: write doc-derived 16-bit PCM RIFF "
        "blobs, decode bytes back, emit integer-exact checksums",
        qm8_real_audio_decode,
        _ORACLE_QM8,
        tags=("ext", "multimodal"),
    ),
    Query(
        "qm9_real_video_decode",
        "real Y4M video decode kernel: write doc-derived multi-frame "
        "yuv4mpeg2 streams, decode bytes back, one row per frame with "
        "integer-exact luma checksums",
        qm9_real_video_decode,
        _ORACLE_QM9,
        tags=("ext", "multimodal"),
    ),
    Query(
        "qx26_dedup_clusters",
        "connected components over verified LSH pairs (duplicate clusters)",
        qx26_dedup_clusters,
        _ORACLE_QX26,
        tags=("ext", "dedup", "iterative"),
    ),
    Query(
        "qx31_dedup_survivors",
        "canonical corpus after fuzzy dedup: drop all but the elected "
        "representative of every duplicate cluster",
        qx31_dedup_survivors,
        """
        WITH RECURSIVE pairs AS (
          SELECT doc_a, doc_b FROM ({qx9}) WHERE jaccard >= 0.7
        ), edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs
        ), nodes AS (
          SELECT DISTINCT src AS node FROM edges
        ), reach AS (
          SELECT node, node AS label FROM nodes
          UNION
          SELECT e.src AS node, r.label
          FROM edges e JOIN reach r ON e.dst = r.node
        ), cc AS (
          SELECT node AS doc_id, min(label) AS cluster_rep
          FROM reach GROUP BY node
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id NOT IN (
          SELECT doc_id FROM cc WHERE doc_id <> cluster_rep
        )
""".format(qx9=_ORACLE_QX9),
        tags=("ext", "dedup", "iterative"),
    ),
    Query(
        "qx32_semantic_dedup",
        "SemDeDup: cosine near-dup clusters over embeddings, keep one "
        "representative per cluster",
        qx32_semantic_dedup,
        f"""
        WITH RECURSIVE e AS (
          SELECT vec_id, label, {_ED} AS ed FROM embeddings
          WHERE label IN ({_SQL_COLD_BLOCKS})
        ), p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE round({_sql_cosine('a.ed', 'b.ed')}, 6) >= 0.35
        ), edges AS (
          SELECT vec_a AS src, vec_b AS dst FROM p
          UNION ALL
          SELECT vec_b AS src, vec_a AS dst FROM p
        ), nodes AS (
          SELECT DISTINCT src AS node FROM edges
        ), reach AS (
          SELECT node, node AS label FROM nodes
          UNION
          SELECT e2.src AS node, r.label
          FROM edges e2 JOIN reach r ON e2.dst = r.node
        ), cc AS (
          SELECT node AS vec_id, min(label) AS cluster_rep
          FROM reach GROUP BY node
        )
        SELECT em.vec_id, em.label
        FROM embeddings em
        WHERE em.vec_id NOT IN (
          SELECT vec_id FROM cc WHERE vec_id <> cluster_rep
        )
        """,
        tags=("ext", "dedup", "similarity", "iterative"),
    ),
    Query(
        "qx27_pii_scrub",
        "PII redaction: per-class match counts + scrubbed-text hash",
        qx27_pii_scrub,
        """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))
                 AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all(text,
                 '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}'))
                 AS INTEGER) AS n_ip,
               CAST(len(regexp_extract_all(text, '[+][0-9]{7,15}'))
                 AS INTEGER) AS n_phone,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
                 '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}',
                 '<IP>', 'g'),
                 '[+][0-9]{7,15}', '<PHONE>', 'g')) AS scrubbed_md5
        FROM documents
        """,
        tags=("ext", "text"),
    ),
    Query(
        "qx28_mixture_weights",
        "domain-mixture reweighting: per-(source,lang) share + weight",
        qx28_mixture_weights,
        """
        WITH per AS (
          SELECT source, lang, count(*) AS n
          FROM documents GROUP BY 1, 2
        ), per_source AS (
          SELECT source, count(*) AS n_source
          FROM documents GROUP BY 1
        ), totals AS (
          SELECT count(*) AS n_total, count(DISTINCT source) AS n_sources
          FROM documents
        )
        SELECT per.source, per.lang, per.n,
               per.n / CAST(n_total AS DOUBLE) AS share,
               n_total / (CAST(n_sources AS DOUBLE) * n_source)
                 AS source_weight
        FROM per JOIN per_source USING (source) CROSS JOIN totals
        """,
        tags=("ext", "text", "sampling"),
    ),
    Query(
        "qx29_sketch_rollup",
        "mergeable HLL sketch rollup: daily sketches -> period union, "
        "tolerance-checked",
        qx29_sketch_rollup,
        """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 count(DISTINCT user_id) AS exact_day_users
          FROM events GROUP BY 1
        )
        SELECT count(*) AS n_days,
               CAST(sum(exact_day_users) AS BIGINT) AS sum_day_users,
               (SELECT count(DISTINCT user_id) FROM events) AS exact_users,
               true AS merged_est_within_5pct
        FROM daily
        """,
        tags=("ext", "sketch", "agg"),
    ),
    Query(
        "qx30_repetition_ratio",
        "within-doc duplicate word-3-gram fraction (quality filter)",
        qx30_repetition_ratio,
        f"""
        WITH t AS (
          SELECT doc_id, {{toks}} AS toks FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks) - 2),
                   i -> ('0x' || substr(md5(
                     array_to_string(toks[i:i+2], ' ')), 1, 15))::BIGINT))
                   AS h
          FROM t WHERE len(toks) >= 3
        )
        SELECT doc_id, count(*) AS n_grams,
               count(DISTINCT h) AS n_distinct,
               1.0 - count(DISTINCT h)
                     / CAST(count(*) AS DOUBLE) AS rep_ratio
        FROM g GROUP BY doc_id
        """.format(toks=_SQL_TOKENS.format(col='text')),
        tags=("ext", "text", "quality"),
    ),
]

# LSH candidate pairs WITHOUT the jaccard verify — the banding prefix
# of _ORACLE_QX9, exported for the incremental-stream query (qs4),
# whose per-batch union must equal exactly this set.
def lsh_candidates_sql(src: str = "documents") -> str:
    """The banding SQL over an arbitrary source relation — ``src`` may
    be an outer CTE name, letting a composed oracle (qs15) run the
    identical banding over a gated subset. ``lsh_candidates_sql()``
    is byte-for-byte :data:`ORACLE_LSH_CANDIDATES` (qs4/qs13's oracle
    prefix), so parameterizing the table cannot drift the
    long-standing oracles."""
    return f"""
WITH shl AS (
  SELECT doc_id, {_sql_shingles('text', 3)} AS shs FROM {src}
), hashed AS (
  SELECT doc_id, shs, list_transform(shs, s -> {_sql_word_hash31('s')}) AS sh
  FROM shl
), sigs AS (
  SELECT doc_id, shs,
         {_mh_cols}
  FROM hashed
), bands AS (
  {_band_rows}
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM bands l JOIN bands r
  ON l.band_id = r.band_id AND l.band_key = r.band_key
 AND l.doc_id < r.doc_id
"""


ORACLE_LSH_CANDIDATES = lsh_candidates_sql()
