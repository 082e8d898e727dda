"""LLM training-data pipeline queries: dedup, similarity, text analysis,
multimodal — the north-star extension surface (SURVEY.md §2.11 last row).

Oracle notes: DuckDB regexp_replace needs the 'g' flag to match Spark's
replace-all semantics; both engines' regexps here stick to RE2∩Java
syntax. Float outputs are rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators import dedup as D
from windowsession_using_kafka_flink_docker_spark.operators import multimodal as M
from windowsession_using_kafka_flink_docker_spark.operators import similarity as S
from windowsession_using_kafka_flink_docker_spark.operators import text_analysis as T
from windowsession_using_kafka_flink_docker_spark.plans.catalog import register
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

# DuckDB expression fragments mirroring operators/text_analysis.py.
_NORM_SQL = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
_TOKC_SQL = ("CASE WHEN trim(text) = '' THEN 0 "
             "ELSE len(string_split_regex(trim(text), '\\s+')) END")


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents
GROUP BY md5(text)
""",
    description="Exact dedup: md5-digest groupBy, min-id canonical "
                "representative; digest (not payload) is the shuffle key",
    bench=True,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_fingerprint",
    oracle=f"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split({_NORM_SQL}, ' '))), ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM fp GROUP BY fingerprint
""",
    description="Fingerprint dedup: md5 over the sorted unique token bag — "
                "collapses permutation near-dups (rolling-hash document "
                "fingerprinting family)",
    tags=("llm", "dedup", "text"),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(T.fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def minhash_lsh_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16 bands) near-dup pairs over word 3-shingles,
    exact-Jaccard verified at >= 0.5.

    Retired from the catalog (VERDICT r7 item 3 consolidation): the
    rows-only registration added no signal once ``minhash_recall_vs_exact``
    hash-pinned a bit-identical DuckDB replay of this same pipeline
    (portable md5 signature mode) with recall/precision floors. Still
    benched directly by bench.py (EXTRA_BENCH) and pinned by the
    planted-pair tests in tests/test_dedup_similarity.py."""
    return D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"),
                               shingles=_shingle_stage(spark, sf_dir))


@register(
    "ngram_jaccard_neardups",
    oracle="""
WITH docs AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, GREATEST(len(toks) - 2, 1) + 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
           )
         ) AS sh
  FROM (SELECT doc_id, string_split(""" + _NORM_SQL + """, ' ') AS toks FROM documents)
),
inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (SELECT doc_id, len(sh) AS n FROM docs)
SELECT id_a, id_b,
       ROUND(n_shared / (na.n + nb.n - n_shared), 4) AS jaccard
FROM pairs
JOIN sized na ON na.doc_id = id_a
JOIN sized nb ON nb.doc_id = id_b
WHERE ROUND(n_shared / (na.n + nb.n - n_shared), 4) >= 0.5
""",
    description="Exact word-3-gram Jaccard near-dup pairs via inverted-"
                "index blocking (set-similarity join); oracle-checked",
    bench=True,
    tags=("llm", "dedup", "ngram"),
)
def ngram_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_pairs(spark, sf_dir)


#: Pipeline-stage memos, keyed per (Spark app, sf_dir) — they die with the
#: session and never cross data or parameterizations:
#: - the word-3-shingle table feeds BOTH MinHash-LSH and the exact
#:   ngram-Jaccard ssjoin (tokenize+shingle once per corpus, exactly as a
#:   production dedup run materializes it);
#: - the exact-Jaccard pair join feeds both the pair query and the
#:   clustering query; its localCheckpointed result is deterministic, so
#:   recomputing it per catalog entry would just re-run the same join.
_SHINGLE_CACHE: dict[tuple[str, str], DataFrame] = {}
_NGRAM_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _shingle_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SHINGLE_CACHE:
        _SHINGLE_CACHE[key] = D.shingle_table(
            load_table(spark, sf_dir, "documents"))
    return _SHINGLE_CACHE[key]


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _NGRAM_PAIRS_CACHE:
        _NGRAM_PAIRS_CACHE[key] = D.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            shingles=_shingle_stage(spark, sf_dir))
    return _NGRAM_PAIRS_CACHE[key]


_CONTAINMENT_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session memo for the containment pair stage — shared by the
    pair entry (containment_neardups) and the containment clustering
    (containment_canonical_survivors), exactly like _ngram_pairs; the
    localCheckpointed result is deterministic."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CONTAINMENT_PAIRS_CACHE:
        _CONTAINMENT_PAIRS_CACHE[key] = D.containment_pairs(
            load_table(spark, sf_dir, "documents"),
            shingles=_shingle_stage(spark, sf_dir))
    return _CONTAINMENT_PAIRS_CACHE[key]


def clear_stage_caches() -> None:
    """Release the memoized pipeline stages. The shingle tables hold
    persisted blocks, so a long-lived session that has processed many
    (app, sf) corpora should call this between corpora; the pair frames
    are localCheckpoints, whose blocks the ContextCleaner releases once
    the entries are dropped and garbage-collected."""
    for df in _SHINGLE_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    _SHINGLE_CACHE.clear()
    _NGRAM_PAIRS_CACHE.clear()
    _CONTAINMENT_PAIRS_CACHE.clear()
    # the basket stage shared by copurchase_pairs/association_rules rides
    # the same between-pass release discipline (r18, VERDICT item 7)
    from windowsession_using_kafka_flink_docker_spark.plans.relational import (
        clear_basket_cache,
    )
    clear_basket_cache()


def simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs, 16-bit chunk blocking, Hamming <= 3.

    Retired from the catalog (VERDICT r7 item 3 consolidation): the
    rows-only registration added no signal once ``simhash_recall_vs_exact``
    hash-pinned a DuckDB replay of this same pipeline (portable md5
    signature mode) with a recall floor. Still benched directly by
    bench.py (EXTRA_BENCH) and pinned by the planted-pair tests in
    tests/test_dedup_similarity.py."""
    return D.simhash_near_dups(load_table(spark, sf_dir, "documents"))


@register(
    "cosine_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv), 4) AS cosine
  FROM embeddings c, q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, cosine, rnk FROM ranked WHERE rnk <= 10
""",
    description="Brute-force cosine top-10 for 10 query vectors: broadcast "
                "queries, score corpus scan-side, per-query TakeOrdered — "
                "corpus never shuffles",
    bench=True,
    tags=("llm", "similarity"),
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=10)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-k (random-hyperplane cosine LSH); bucket
    id doubles as partition/cluster key at scale.

    Retired from the catalog (VERDICT r6 item 1 consolidation): the
    rows-only registration added no signal once ``ann_recall_vs_exact``
    hash-pinned the same operator's recall against the exact top-k — that
    audit entry runs the identical sign-LSH pipeline and is the
    driver-checked quality gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_cosine_topk(emb, emb.where(F.col("vec_id") < 10), dim=64, k=10)


@register(
    "embedding_neardups",
    oracle="""
WITH planted AS (
  SELECT vec_id + 1000000 AS vec_id,
         CAST(list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) AS FLOAT[]) AS embedding,
         label
  FROM embeddings WHERE vec_id < 5
),
corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL SELECT * FROM planted
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 4) AS cosine
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
""",
    description="Embedding-cosine near-duplicate pairs (sign-LSH-blocked, "
                "exact-verified at cosine >= 0.95). The corpus is the "
                "embeddings table plus 5 planted positive-scaled copies "
                "(cosine exactly 1.0, sign pattern — and hence LSH bucket — "
                "provably identical), so the check is non-vacuous: the "
                "testdata's max organic pairwise cosine is ~0.51. With "
                "threshold > that, LSH recall is exact and the brute-force "
                "oracle hash-matches.",
    bench=True,
    tags=("llm", "dedup", "similarity"),
)
def embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    two = F.lit(2.0).cast("float")
    planted = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * two).alias("embedding"),
        "label",
    )
    return S.embedding_near_dups(emb.unionByName(planted))


@register(
    "token_stats_by_lang",
    oracle=f"""
SELECT lang,
       CAST(SUM({_TOKC_SQL}) AS BIGINT) AS total_tokens,
       ROUND(AVG({_TOKC_SQL}), 2) AS avg_tokens,
       COUNT(*) AS n_docs
FROM documents
GROUP BY lang
""",
    description="Token counting (whitespace tokenizer) aggregated per "
                "language label",
    tags=("llm", "text"),
)
def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = T.token_count("text")
    return docs.groupBy("lang").agg(
        F.sum(tc).alias("total_tokens"),
        F.round(F.avg(tc), 2).alias("avg_tokens"),
        F.count("*").alias("n_docs"),
    )


@register(
    "lang_id_distribution",
    oracle=r"""
WITH feats AS (
  SELECT doc_id,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))) * 1.0 / length(text)
         END AS cjk_ratio,
         len(regexp_extract_all(text, '(?i)\b(der|die|und|das|nicht|ein|ist)\b')) AS c_de,
         len(regexp_extract_all(text, '(?i)\b(el|la|los|las|que|una|es)\b')) AS c_es,
         len(regexp_extract_all(text, '(?i)\b(le|les|des|une|est|avec|pour)\b')) AS c_fr
  FROM documents
),
pred AS (
  SELECT CASE WHEN cjk_ratio > 0.3 THEN 'zh'
              WHEN GREATEST(c_de, c_es, c_fr) >= 2 AND c_de = GREATEST(c_de, c_es, c_fr) THEN 'de'
              WHEN GREATEST(c_de, c_es, c_fr) >= 2 AND c_es = GREATEST(c_de, c_es, c_fr) THEN 'es'
              WHEN GREATEST(c_de, c_es, c_fr) >= 2 AND c_fr = GREATEST(c_de, c_es, c_fr) THEN 'fr'
              ELSE 'en' END AS predicted_lang
  FROM feats
)
SELECT predicted_lang, COUNT(*) AS n_docs
FROM pred GROUP BY predicted_lang
""",
    description="Heuristic language ID (CJK charset ratio + stopword "
                "markers) — distribution of predictions",
    tags=("llm", "text"),
)
def lang_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(T.lang_id("text").alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "quality_scores",
    oracle=r"""
WITH feats AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n,
         CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS a,
         CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS BIGINT) AS p,
         CAST(""" + _TOKC_SQL + r""" AS BIGINT) AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN CAST(3000 AS BIGINT) ELSE
           (2 * (3 * (CASE WHEN n < 20 THEN 0 WHEN n < 100 THEN 1 ELSE 2 END) * n
                 + 6 * a
                 + 4 * (n - LEAST(5 * p, n))
                 + 2 * (CASE WHEN toks > 0 AND n >= 3 * toks AND n <= 12 * toks
                             THEN 2 ELSE 1 END) * n) * 10000
            + 20 * n) // (40 * n)
         END AS q_e4
  FROM feats
)
SELECT doc_id, q_e4 / 10000.0 AS quality
FROM scored WHERE q_e4 >= 5000
""",
    description="Surface-statistics quality scoring (length band, alpha "
                "ratio, punctuation ratio, mean word length) on EXACT "
                "int64 arithmetic; filter >= 0.5",
    tags=("llm", "text"),
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-e4 form (landed r16).

    The r15 sf0.1 window sweep found the previous double pipeline's
    ROUND(score, 4) landing a document on an exact .xxxx5 boundary
    (0.94525 -> Spark 0.9452 vs DuckDB 0.9453 — the shortest-decimal
    half-up vs binary-double split, same class as the session
    half-cent family), so the rounded value is now derived by EXACT
    integer division (the SURVEY §2.52 discipline):

    score = 0.3·lb + 0.3·a/n + 0.2·(1 − min(5p/n, 1)) + 0.2·wb with
    lb ∈ {0, ½, 1} = L/2, wb ∈ {½, 1} = W/2 and integer counts a
    (alpha chars), p (punct chars), n (length) is the exact rational
    num/(20n), num = 3Ln + 6a + 4(n − min(5p, n)) + 2Wn; half-up
    4-decimal rounding is q_e4 = (2·num·10⁴ + 20n) div (40n) — every
    operand far inside int64 at any document size. The word band's
    3 ≤ n/toks ≤ 12 test becomes 3·toks ≤ n ≤ 12·toks (equivalent
    for positive ints, no IEEE division at all). This is a boundary
    CORRECTION, not a value-identical swap: on .xxxx5-boundary docs
    both double engines agreed with each other on the mathematically
    wrong side; the exact form emits true half-up (one 1e-4 step
    apart on exactly those docs — blast radius pinned by
    tests/test_oracle_parity.py's tie-confinement test)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n = F.length(t).cast("long")
    feats = docs.select(
        "doc_id", n.alias("n"),
        (n - F.length(F.regexp_replace(t, r"[A-Za-z]", "")))
        .cast("long").alias("a"),
        (n - F.length(F.regexp_replace(t, r"[^\w\s]", "")))
        .cast("long").alias("p"),
        T.token_count(t).cast("long").alias("toks"))
    # exact int64 `div` — the §2.52 idiom (never a double divide+floor)
    q_e4 = F.expr(
        "CASE WHEN n = 0 THEN 3000L ELSE "
        "(2 * (3 * (CASE WHEN n < 20 THEN 0L WHEN n < 100 THEN 1L "
        "           ELSE 2L END) * n"
        "      + 6 * a + 4 * (n - LEAST(5 * p, n))"
        "      + 2 * (CASE WHEN toks > 0 AND n >= 3 * toks "
        "                  AND n <= 12 * toks THEN 2L ELSE 1L END) * n)"
        " * 10000 + 20 * n) div (40 * n) END")
    return (feats.select("doc_id",
                         (q_e4 / F.lit(10_000.0)).alias("quality"))
            .where(F.col("quality") >= 0.5))


@register(
    "media_features",
    # The payloads are REAL PNG/WAV/MP4 bytes whose header parameters are
    # closed-form in doc_id (operators/multimodal.py table), so the oracle
    # recomputes the expected metadata directly while Spark must encode
    # real files and parse real headers (CRC-checked IHDR, RIFF walk,
    # ISO-BMFF box walk) to match the hash.
    oracle="""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'audio/wav'
                       ELSE 'video/mp4' END AS media_type,
       CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 48 + 16
                            WHEN 2 THEN doc_id % 128 + 64 END AS INTEGER) AS width,
       CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 32 + 16
                            WHEN 2 THEN doc_id % 96 + 48 END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 3 = 1
                 THEN 8000 + (doc_id % 4) * 4000 END AS INTEGER) AS sample_rate,
       CAST(CASE doc_id % 3 WHEN 1 THEN 10 * (doc_id % 5 + 1)
                            WHEN 2 THEN 40 * (doc_id % 5 + 2) END AS BIGINT)
         AS duration_ms
FROM documents
""",
    description="Multimodal decode, for real: binary payload column (real "
                "stdlib-built PNG/WAV/MP4 files) → Arrow-batched mapInPandas "
                "header parse (CRC-checked PNG IHDR, RIFF chunk walk, "
                "ISO-BMFF box walk) → typed metadata; oracle recomputes the "
                "planted closed-form parameters from doc_id",
    bench=True,
    tags=("llm", "multimodal"),
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_media(docs)
    return M.extract_media_features(media).select(
        "doc_id", "media_type", "width", "height", "sample_rate", "duration_ms")


@register(
    "subword_token_stats",
    oracle=r"""
SELECT lang,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT)
         AS total_subword_tokens,
       ROUND(AVG(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))), 2)
         AS avg_subword_tokens,
       COUNT(*) AS n_docs
FROM documents
GROUP BY lang
""",
    description="BPE-ish subword token counting (letter runs / digit runs "
                "/ punctuation marks — the standard pre-tokenization split) "
                "aggregated per language; complements the whitespace "
                "counter in token_stats_by_lang",
    tags=("llm", "text"),
)
def subword_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = T.subword_token_count("text")
    return docs.groupBy("lang").agg(
        F.sum(tc).alias("total_subword_tokens"),
        F.round(F.avg(tc), 2).alias("avg_subword_tokens"),
        F.count("*").alias("n_docs"),
    )


@register(
    "media_frame_sample",
    # Spark demuxes the real MP4 (stsz sample table at the stco offset)
    # and keeps the first min(n_samples, 4) samples; the oracle recomputes
    # the planted per-sample sizes from doc_id.
    oracle="""
SELECT doc_id,
       CAST(u AS INTEGER) AS frame_index,
       CAST(doc_id % 100 + 32 + 7 * u AS INTEGER) AS frame_bytes
FROM (SELECT doc_id, unnest(range(least(doc_id % 5 + 2, 4))) AS u
      FROM documents WHERE doc_id % 3 = 2)
""",
    description="Multimodal frame sampling, for real: video rows fan out "
                "1-to-N via Arrow-batched mapInPandas running an actual "
                "ISO-BMFF demux (stsz/stco) over real MP4 payloads",
    tags=("llm", "multimodal"),
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.sample_frames(M.attach_media(docs)).select(
        "doc_id", "frame_index", "frame_bytes")


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: seeded-KMeans coarse
    quantizer (trained ONCE on a bounded sample, cached per
    session+corpus) over unit vectors, nprobe=4 of 16 cells probed per
    query; cell id is the partition key at scale.

    Retired from the catalog (VERDICT r7 item 3 consolidation): the
    rows-only registration added no signal once ``ivf_recall_vs_exact``
    (oracle-checked on every test run) hash-pinned the nprobe=n_cells
    exact-identity over this same index/probe code path. Still benched
    directly by bench.py (EXTRA_BENCH) and pinned by pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    index = _ivf_index_for(spark, sf_dir, emb)
    return S.ivf_cosine_topk(None, emb.where(F.col("vec_id") < 10), k=10,
                             index=index)


#: one trained IVF index per (Spark app, corpus dir) — probing must never
#: retrain the quantizer (the serving-path contract; VERDICT r2 item 4).
_IVF_INDEXES: dict[tuple[str, str], "S.IvfIndex"] = {}


def _ivf_index_for(spark: SparkSession, sf_dir: str, emb: DataFrame) -> "S.IvfIndex":
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_INDEXES:
        _IVF_INDEXES[key] = S.ivf_build(emb, n_cells=16, seed=42)
    return _IVF_INDEXES[key]


#: one trained PQ index per (Spark app, corpus dir) — same serving-path
#: contract as IVF: encode once, probe many.
_PQ_INDEXES: dict[tuple[str, str], "S.PqIndex"] = {}


def _pq_index_for(spark: SparkSession, sf_dir: str, emb: DataFrame) -> "S.PqIndex":
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_INDEXES:
        _PQ_INDEXES[key] = S.pq_build(emb, dim=64)
    return _PQ_INDEXES[key]


@register(
    "pq_rerank_all_vs_exact",
    # With rerank >= corpus size the ADC shortlist admits every candidate
    # and the exact-cosine re-rank must reproduce the exact scan
    # IDENTICALLY — the end-to-end identity that pins the PQ machinery's
    # rerank/join/ranking stages (codebook fidelity itself is pinned by
    # pytest on planted copies and measured in SCALING.md: 0.91@20k,
    # rerank-50 0.73 organic).
    oracle="""
SELECT CAST(10 AS BIGINT) AS n_queries,
       CAST(100 AS BIGINT) AS exact_pairs,
       CAST(100 AS BIGINT) AS pq_hits,
       CAST(1.0 AS DOUBLE) AS recall_rerank_all
""",
    description="PQ ADC probe with rerank >= corpus must equal the exact "
                "cosine scan (every candidate re-ranked exactly) — the "
                "driver-checkable identity for the PQ serving path, "
                "emitted as one scalar row against the pinned invariant",
    tags=("llm", "similarity", "ann", "pq", "quality"),
)
def pq_rerank_all_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=10).select("query_id", "match_id")
    index = _pq_index_for(spark, sf_dir, emb)
    n = emb.count()
    pq = (
        S.pq_adc_topk(emb, q, index, k=10, rerank=n)
        .select("query_id", "match_id")
        .withColumn("_hit", F.lit(1))
    )
    return exact.join(pq, ["query_id", "match_id"], "left").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("exact_pairs"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("pq_hits"),
        F.round(F.avg(F.coalesce(F.col("_hit"), F.lit(0)).cast("double")), 4)
         .alias("recall_rerank_all"),
    )


def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 (8 subspaces x 16 centroids =
    8-byte codes, 32x compression): ADC scan over codes via per-query
    lookup tables (never touches raw vectors), then exact cosine
    re-rank of the top-50 shortlist — the FAISS-style IVF-PQ serving
    shape and the memory-bound scale path at 100 TB.

    Retired from the catalog (VERDICT r7 item 3 consolidation): the
    rows-only registration added no signal once ``pq_rerank_all_vs_exact``
    (oracle-checked on every test run) hash-pinned the rerank-all
    exact-identity over this same encode/ADC/rerank code path; recall
    0.73 vs exact at sf0.01 (rerank=50) stays measured in
    tools/scale_stress_embeddings.py and pinned by pytest on planted
    copies. Still benched directly by bench.py (EXTRA_BENCH)."""
    emb = load_table(spark, sf_dir, "embeddings")
    index = _pq_index_for(spark, sf_dir, emb)
    return S.pq_adc_topk(emb, emb.where(F.col("vec_id") < 10), index,
                         k=10, rerank=50)


# Sign-LSH recall vs the exact scan, as ONE scalar row the driver can hash:
# the oracle replicates the ENTIRE approximate pipeline in DuckDB — the
# seeded hyperplane buckets bit-for-bit (duckdb_signlsh_bucket_sql), the
# bucket-size cap, the bucket-probe join, per-query top-10 — plus the exact
# top-10, and measures the overlap. This converts the rows-only
# ann_cosine_topk entry into hard-signal coverage: a wrong bucket bit, a
# mis-capped bucket, or a broken probe join all move recall.
_ANN_RECALL_SQL = """
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {bucket} AS bucket
  FROM embeddings
),
capped AS (
  SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS _bsz
                 FROM corpus)
  WHERE _bsz <= 100000
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM corpus WHERE vec_id < 10),
ann AS (
  SELECT query_id, match_id FROM (
    SELECT q.query_id, c.vec_id AS match_id,
           ROUND(list_cosine_similarity(c.v, q.qv), 4) AS cosine,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND(list_cosine_similarity(c.v, q.qv), 4) DESC,
                                       c.vec_id) AS rnk
    FROM capped c JOIN q USING (bucket)
    WHERE c.vec_id <> q.query_id)
  WHERE rnk <= 10
),
exact AS (
  SELECT query_id, match_id FROM (
    SELECT q.query_id, c.vec_id AS match_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv), 4) DESC,
                                       c.vec_id) AS rnk
    FROM embeddings c, q
    WHERE c.vec_id <> q.query_id)
  WHERE rnk <= 10
)
SELECT CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS exact_pairs,
       CAST(SUM(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS ann_hits,
       ROUND(AVG(CASE WHEN a.match_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4)
         AS recall_at_10
FROM exact e LEFT JOIN ann a USING (query_id, match_id)
"""


@register(
    "ann_recall_vs_exact",
    oracle=_ANN_RECALL_SQL.format(
        bucket=S.duckdb_signlsh_bucket_sql("embedding", dim=64, n_planes=10)),
    description="recall@10 of sign-LSH ANN against the exact cosine scan, "
                "as one scalar row; the oracle re-runs the whole LSH "
                "pipeline in DuckDB (bit-identical seeded buckets, bucket "
                "cap, probe join, top-10) so the measured recall is "
                "hash-checked, not asserted",
    tags=("llm", "similarity", "ann", "quality"),
)
def ann_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=10).select("query_id", "match_id")
    ann = (
        S.ann_cosine_topk(emb, q, dim=64, k=10)
        .select("query_id", "match_id")
        .withColumn("_hit", F.lit(1))
    )
    return exact.join(ann, ["query_id", "match_id"], "left").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("exact_pairs"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("ann_hits"),
        F.round(F.avg(F.coalesce(F.col("_hit"), F.lit(0)).cast("double")), 4)
         .alias("recall_at_10"),
    )


# Shared DuckDB skeleton for the multi-table (OR-amplified) LSH pipeline:
# one 40-bit signature (bit-identical to Spark's, see
# duckdb_signlsh_bucket_sql), sliced into 8 x 5-bit tables by the same bit
# arithmetic, per-(table,bucket) cap, distinct candidates, score-once.
_MULTIPROBE_CTES = """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {sig} AS sig
        FROM embeddings),
cidx AS (SELECT vec_id, t, (sig >> CAST(t * 5 AS INTEGER)) & 31 AS bucket
         FROM (SELECT vec_id, sig, unnest(range(8)) AS t FROM sig)),
capped AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY t, bucket) AS _bsz
                          FROM cidx)
           WHERE _bsz <= 100000),
qidx AS (SELECT vec_id AS query_id, t, bucket FROM cidx WHERE vec_id < 10),
cand AS (SELECT DISTINCT q.query_id, c.vec_id AS match_id
         FROM capped c JOIN qidx q USING (t, bucket)
         WHERE c.vec_id <> q.query_id),
ann AS (
  SELECT query_id, match_id, cosine, rnk FROM (
    SELECT cand.query_id, cand.match_id,
           ROUND(list_cosine_similarity(cv.v, qv.v), 4) AS cosine,
           row_number() OVER (PARTITION BY cand.query_id
                              ORDER BY ROUND(list_cosine_similarity(cv.v, qv.v), 4) DESC,
                                       cand.match_id) AS rnk
    FROM cand JOIN sig cv ON cv.vec_id = cand.match_id
              JOIN sig qv ON qv.vec_id = cand.query_id)
  WHERE rnk <= 10
)
"""


@register(
    "ann_multiprobe_topk",
    oracle=_MULTIPROBE_CTES.format(
        sig=S.duckdb_signlsh_bucket_sql("embedding", dim=64, n_planes=40)) + """
SELECT query_id, match_id, cosine, rnk FROM ann
""",
    description="Multi-table sign-LSH ANN top-10 (OR-amplification, 8 "
                "tables x 5 bits sliced from ONE 40-bit signature): the "
                "practical scale path when single-table recall collapses "
                "on unclustered corpora; fully oracle-checked — DuckDB "
                "replays the bit-identical signature, table slicing, "
                "bucket cap, distinct-candidates and score-once stages",
    bench=True,
    tags=("llm", "similarity", "ann"),
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.multitable_signlsh_topk(emb, emb.where(F.col("vec_id") < 10),
                                     dim=64, k=10)


@register(
    "ann_multiprobe_recall_vs_exact",
    oracle=_MULTIPROBE_CTES.format(
        sig=S.duckdb_signlsh_bucket_sql("embedding", dim=64, n_planes=40)) + """
, exact AS (
  SELECT query_id, match_id FROM (
    SELECT q.query_id, c.vec_id AS match_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND(list_cosine_similarity(c.v, q.v), 4) DESC,
                                       c.vec_id) AS rnk
    FROM base c, (SELECT vec_id AS query_id, v FROM base WHERE vec_id < 10) q
    WHERE c.vec_id <> q.query_id)
  WHERE rnk <= 10
)
SELECT CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS exact_pairs,
       CAST(SUM(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS ann_hits,
       ROUND(AVG(CASE WHEN a.match_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4)
         AS recall_at_10,
       ROUND((SELECT COUNT(*) FROM cand)
             / (10.0 * ((SELECT COUNT(*) FROM base) - 1)), 4) AS scan_frac
FROM exact e LEFT JOIN ann a USING (query_id, match_id)
""",
    description="recall@10 and scanned-fraction of the multi-table LSH "
                "ANN vs the exact scan, as one scalar row the driver "
                "hashes — the measured amplification story (single-table "
                "~0.0 recall -> ~0.5 at ~25% scan on this worst-case "
                "unclustered corpus), verified end-to-end in DuckDB",
    tags=("llm", "similarity", "ann", "quality"),
)
def ann_multiprobe_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=10).select("query_id", "match_id")
    ann = (
        S.multitable_signlsh_topk(emb, q, dim=64, k=10)
        .select("query_id", "match_id")
        .withColumn("_hit", F.lit(1))
    )
    # candidate volume (for the scanned-fraction metric): re-derive the
    # distinct candidate set the operator scored
    total, mask = 40, 31
    tables = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("t")
    bucket = F.expr("shiftright(_sig, CAST(t * 5 AS INT)) & 31")
    c_idx = S._drop_big_buckets(
        emb.select(F.col("vec_id").alias("match_id"),
                   S.signlsh_bucket_expr("embedding", 64, total).alias("_sig"))
        .select("match_id", "_sig", tables).withColumn("bucket", bucket)
        .drop("_sig"),
        ["t", "bucket"], 100_000,
    )
    q_idx = (
        q.select(F.col("vec_id").alias("query_id"),
                 S.signlsh_bucket_expr("embedding", 64, total).alias("_sig"))
        .select("query_id", "_sig", tables).withColumn("bucket", bucket)
    )
    n_cand = (
        c_idx.join(F.broadcast(q_idx), ["t", "bucket"])
        .where(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id").distinct()
        .agg(F.count(F.lit(1)).alias("_n_cand"))
    )
    n_corpus = emb.agg(F.count(F.lit(1)).alias("_n_corpus"))
    hits = exact.join(ann, ["query_id", "match_id"], "left").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("exact_pairs"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("ann_hits"),
        F.round(F.avg(F.coalesce(F.col("_hit"), F.lit(0)).cast("double")), 4)
         .alias("recall_at_10"),
    )
    return (
        hits.crossJoin(F.broadcast(n_cand)).crossJoin(F.broadcast(n_corpus))
        .withColumn("scan_frac",
                    F.round(F.col("_n_cand")
                            / (F.lit(10.0) * (F.col("_n_corpus") - 1)), 4))
        .select("n_queries", "exact_pairs", "ann_hits", "recall_at_10", "scan_frac")
    )


@register(
    "ivf_recall_vs_exact",
    # With nprobe == n_cells every cell is probed, so the IVF pipeline
    # (sample-train quantizer, cell assignment, probe join, ranking) must
    # reproduce the exact scan IDENTICALLY — both sides run the same
    # rounded-cosine ranking, so the identity is exact, not approximate.
    # The oracle pins that invariant: 10 queries x 10 hits, recall 1.0.
    # (The kmeans trainer itself is iterative and not SQL-expressible;
    # this identity is what makes the IVF path driver-checkable at all.)
    oracle="""
SELECT CAST(10 AS BIGINT) AS n_queries,
       CAST(100 AS BIGINT) AS exact_pairs,
       CAST(100 AS BIGINT) AS ivf_hits,
       CAST(1.0 AS DOUBLE) AS recall_all_cells
""",
    description="IVF ANN probed with nprobe == n_cells must equal the "
                "exact cosine scan (every cell probed, same ranking) — the "
                "end-to-end identity that validates train/assign/probe "
                "without an SQL-expressible kmeans; emitted as one scalar "
                "row the driver hash-checks against the pinned invariant",
    tags=("llm", "similarity", "ann", "quality"),
)
def ivf_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=10).select("query_id", "match_id")
    index = _ivf_index_for(spark, sf_dir, emb)
    ivf = (
        S.ivf_cosine_topk(None, q, k=10, nprobe=16, index=index)
        .select("query_id", "match_id")
        .withColumn("_hit", F.lit(1))
    )
    return exact.join(ivf, ["query_id", "match_id"], "left").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("exact_pairs"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("ivf_hits"),
        F.round(F.avg(F.coalesce(F.col("_hit"), F.lit(0)).cast("double")), 4)
         .alias("recall_all_cells"),
    )


from windowsession_using_kafka_flink_docker_spark.operators.winnow import (  # noqa: E402
    winnow_fingerprints,
    winnow_oracle_sql,
    winnow_pairs,
)


@register(
    "winnow_fingerprint_stats",
    oracle=winnow_oracle_sql() + """
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(f) AS BIGINT) AS n_fp,
       list_aggregate(f, 'min') AS fp_min,
       list_aggregate(f, 'max') AS fp_max
FROM fp
""",
    description="Winnowing (MOSS, SIGMOD'03) rolling-hash fingerprints: "
                "md5 k-gram hashes, per-window minima, ~2/(w+1) selection "
                "density — per-doc stats, fully oracle-checked against the "
                "same algorithm in DuckDB (md5 is engine-portable)",
    tags=("llm", "fingerprint", "text"),
)
def winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = winnow_fingerprints(load_table(spark, sf_dir, "documents"))
    return fp.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.size("fp").cast("long").alias("n_fp"),
        F.array_min("fp").alias("fp_min"),
        F.array_max("fp").alias("fp_max"),
    )


@register(
    "winnow_neardup_pairs",
    oracle=winnow_oracle_sql() + """
, inv AS (SELECT doc_id, unnest(f) AS w_fp FROM fp),
rare AS (SELECT w_fp FROM inv GROUP BY w_fp HAVING COUNT(*) <= 50)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM (SELECT i.doc_id, i.w_fp FROM inv i JOIN rare USING (w_fp)) a
JOIN (SELECT i.doc_id, i.w_fp FROM inv i JOIN rare USING (w_fp)) b
  ON a.w_fp = b.w_fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
""",
    description="Near-dup pairs sharing >= 2 winnowed fingerprints — the "
                "inverted index holds only winnowed minima (a ~2/(w+1) "
                "fraction of all grams, the scale win over the full n-gram "
                "index) and fingerprints in > 50 docs are capped out before "
                "the self-join",
    bench=True,
    tags=("llm", "dedup", "fingerprint"),
)
def winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "heavy_hitter_tokens",
    oracle="""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(""" + _NORM_SQL + """, ' ')) AS token
      FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT 50
""",
    description="Corpus heavy hitters: top-50 tokens by occurrence — "
                "explode -> map-side partial count -> one agg shuffle -> "
                "TakeOrderedAndProject (the driver only ever sees 50 rows; "
                "deterministic count-then-token ordering makes the cut "
                "boundary stable)",
    tags=("llm", "text", "topk"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heavy_hitters_from_freq(_token_freq(spark, sf_dir))


def token_freq_from_docs(docs: DataFrame) -> DataFrame:
    """(token, n) corpus frequency table — the shared tokenize+count
    stage under heavy_hitter_tokens / zipf_rank_frequency and the
    streaming token-frequency maintainer."""
    toks = docs.select(
        F.explode(F.split(T.normalized_text("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    return toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))


def _token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_freq_from_docs(load_table(spark, sf_dir, "documents"))


def heavy_hitters_from_freq(freq: DataFrame) -> DataFrame:
    """Top-50 derivation over a (token, n) frequency frame — shared with
    the streaming token-frequency maintainer so stream == batch is one
    code path."""
    return freq.orderBy(F.desc("n"), "token").limit(50)


# PII patterns (RE2 ∩ Java regex — no lookaround/backrefs, identical
# semantics in Spark and DuckDB).
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{5,}[0-9]"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# The synthetic corpus contains no organic PII, so the catalog query plants
# one email/phone/IP per document (deterministic functions of doc_id in
# BOTH engines) — the redaction check is non-vacuous by construction (the
# embedding_neardups lesson).
_PII_PLANT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com "
    "call +1 555-0199 host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.42 done'"
)


@register(
    "pii_redaction",
    oracle="""
WITH planted AS (
  SELECT doc_id, """ + _PII_PLANT_SQL + """ AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '""" + _PII_EMAIL + """')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '""" + _PII_PHONE + """')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t, '""" + _PII_IP + """')) AS BIGINT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '""" + _PII_EMAIL + """', '<EMAIL>', 'g'),
           '""" + _PII_IP + """', '<IP>', 'g'),
           '""" + _PII_PHONE + """', '<PHONE>', 'g')) AS redacted_md5
FROM planted
""",
    description="PII redaction scrub: count + replace emails, phone "
                "numbers, and IPv4s with typed placeholders — pure "
                "regexp expressions (scan-side, no shuffle, no Python); "
                "PII is planted per doc_id so the check is non-vacuous; "
                "redacted text verified by md5 against the oracle",
    tags=("llm", "text", "privacy"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com call +1 555-0199 host 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".42 done"),
    )
    planted = docs.select("doc_id", t.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    return planted.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), F.lit(0))).cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_IP), F.lit(0))).cast("long").alias("n_ips"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


@register(
    "hash_split_train_test",
    oracle="""
SELECT CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3') THEN 'eval'
            ELSE 'train' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 2) AS avg_chars
FROM documents
GROUP BY 1
""",
    description="Deterministic content-hash train/eval split (~25% eval): "
                "the split is a pure function of the text's md5, so it is "
                "reproducible across runs, engines, and cluster sizes — no "
                "RNG, no seed coordination, and near-duplicate leakage "
                "between splits is auditable. Scan-side expression, one "
                "agg shuffle.",
    tags=("llm", "sampling", "text"),
)
def hash_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 1).isin("0", "1", "2", "3"),
        "eval",
    ).otherwise("train")
    return (
        docs.groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


#: Recursive-CTE transitive closure over the exact ngram-Jaccard pair
#: graph — shared by the neardup_clusters oracle and the canonical-
#: survivor oracle so both replay the identical clustering.
_CLUSTERS_CTE_SQL = f"""
WITH RECURSIVE docs AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, GREATEST(len(toks) - 2, 1) + 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
           )
         ) AS sh
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents)
),
inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (SELECT doc_id, len(sh) AS n FROM docs),
nd AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sized na ON na.doc_id = id_a
  JOIN sized nb ON nb.doc_id = id_b
  WHERE ROUND(n_shared / (na.n + nb.n - n_shared), 4) >= 0.5
),
edges AS (SELECT id_a AS u, id_b AS v FROM nd
          UNION ALL
          SELECT id_b, id_a FROM nd),
reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
"""


@register(
    "neardup_clusters",
    oracle=_CLUSTERS_CTE_SQL + """
SELECT comp.doc_id, comp.cluster_id, csize.cluster_size,
       comp.doc_id = comp.cluster_id AS is_canonical
FROM comp JOIN csize USING (cluster_id)
""",
    description="Near-dup clustering: exact ngram-Jaccard pairs -> "
                "connected components (min-label propagation, "
                "O(diameter) join rounds) -> cluster id/size + canonical "
                "survivor per cluster. The transitive step real dedup "
                "needs beyond pairwise output; oracle is a recursive-CTE "
                "transitive closure over the same pair graph.",
    bench=True,
    tags=("llm", "dedup", "graph"),
)
def neardup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.cluster import neardup_clusters
    docs = load_table(spark, sf_dir, "documents")
    return neardup_clusters(docs, _ngram_pairs(spark, sf_dir))


@register(
    "bm25_search",
    oracle=f"""
WITH base AS (
  SELECT doc_id, len(t) AS dl, t
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents)
),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM base),
tf AS (
  SELECT doc_id, dl, s AS tok, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(t) AS s FROM base)
  WHERE s IN ('spark', 'stream', 'join')
  GROUP BY 1, 2, 3
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id,
         SUM( ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dft USING (tok) CROSS JOIN stats
  GROUP BY doc_id
)
SELECT doc_id, ROUND(s, 4) AS bm25
FROM scored
ORDER BY ROUND(s, 4) DESC, doc_id
LIMIT 10
""",
    description="BM25 top-10 retrieval for query {spark, stream, join}: "
                "explode filtered to query terms pre-shuffle, broadcast "
                "corpus stats + per-term df, TakeOrderedAndProject top-k "
                "(no global sort).",
    bench=True,
    tags=("llm", "text", "retrieval"),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.bm25_topk(load_table(spark, sf_dir, "documents"),
                       ("spark", "stream", "join"))


@register(
    "chunk_documents",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKC_SQL} AS tok
  FROM documents
),
spec AS (
  SELECT doc_id, tok,
         CASE WHEN tok <= 512 THEN 1
              ELSE CAST(CEIL((tok - 512) / 448.0) AS BIGINT) + 1 END AS n_chunks
  FROM toks
),
exploded AS (
  SELECT doc_id, tok, unnest(range(0, n_chunks)) AS chunk_id FROM spec
)
SELECT doc_id, chunk_id,
       chunk_id * 448 AS chunk_start,
       LEAST(512, tok - chunk_id * 448) AS chunk_len
FROM exploded
""",
    description="Context-window chunking: split each document into "
                "512-token chunks with 64-token overlap (stride 448) — "
                "the doc->training-sample explode of an LLM pipeline. "
                "sequence()+explode scales as a generator (no shuffle); "
                "chunk geometry is integer arithmetic, engine-exact.",
    tags=("llm", "chunking"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = T.token_count("text")
    n_chunks = F.when(tok <= 512, F.lit(1).cast("long")).otherwise(
        F.ceil((tok - 512) / 448.0).cast("long") + 1
    )
    return (
        docs.select("doc_id", tok.alias("_tok"), n_chunks.alias("_n"))
        .select("doc_id", "_tok",
                F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * 448).alias("chunk_start"),
            F.least(F.lit(512).cast("long"),
                    F.col("_tok") - F.col("chunk_id") * 448).alias("chunk_len"),
        )
    )


@register(
    "embedding_centroids",
    oracle="""
SELECT label, i - 1 AS dim,
       ROUND(AVG(embedding[i]), 4) AS centroid_val,
       COUNT(*) AS n_vectors
FROM embeddings, generate_series(1, 64) t(i)
GROUP BY 1, 2
""",
    description="Per-label centroid of the 64-d embeddings in long form "
                "(label, dim, value) — posexplode + one partial-agg "
                "shuffle keyed by (label, dim); long output avoids array "
                "columns the result canonicalizer cannot sort.",
    tags=("llm", "embedding", "agg"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "_v"))
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("_v"), 4).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
    )


from windowsession_using_kafka_flink_docker_spark.operators.cluster import (  # noqa: E402
    pagerank,
    pagerank_oracle_sql,
)


# Shared 3-NN cosine graph CTE: top-3 rounded-cosine neighbors per vector,
# same ranking/tiebreak as the hash-green cosine_topk. Used by the
# pagerank AND triangle-count oracles so both replay the identical graph.
_KNN3_SQL = """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
knn AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY ROUND(list_cosine_similarity(b.v, a.v), 4) DESC,
                                       b.vec_id) AS rnk
    FROM base a JOIN base b ON a.vec_id <> b.vec_id)
  WHERE rnk <= 3
),
"""


@register(
    "pagerank_similarity_graph",
    # The oracle replays BOTH stages: the k-NN edge derivation (shared
    # _KNN3_SQL CTE) and the 10 unrolled PageRank iterations as
    # chained CTEs — identical join+aggregate float recurrence, so the
    # final ranks hash-match at 6 decimals.
    oracle=_KNN3_SQL + """
nodes AS (SELECT vec_id AS id FROM base),
""" + pagerank_oracle_sql("knn", "nodes") + """
SELECT id AS vec_id, ROUND(rank, 6) AS rank FROM final_rank
""",
    description="PageRank (d=0.85, 10 fixed iterations) over the directed "
                "3-NN cosine similarity graph of the embeddings table — "
                "the iterative-algorithm discipline next to connected "
                "components: per-iteration cost is two slim shuffles "
                "(rank join + dst-sum), lineage truncated by "
                "localCheckpoint every 3 rounds; every node has outdegree "
                "3 so no dangling mass. Oracle unrolls the identical "
                "recurrence as chained DuckDB CTEs (edges included).",
    tags=("llm", "graph", "iterative"),
)
def pagerank_similarity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.cosine_topk(emb, emb, k=3).select(
        F.col("query_id").alias("src"), F.col("match_id").alias("dst"))
    ranks = pagerank(knn, emb.select("vec_id"))
    return ranks.select(F.col("id").alias("vec_id"),
                        F.round("rank", 6).alias("rank"))


@register(
    "knn_bfs_hops",
    # The oracle replays the shared 3-NN edge derivation (_KNN3_SQL, same
    # tie-breaking as the PageRank/triangle entries) and runs BFS as a
    # recursive CTE: UNION-deduped (id, hops) pairs, min(hops) per id is
    # the hop distance. Integer output, exact hash.
    oracle=_KNN3_SQL.replace("WITH base", "WITH RECURSIVE base", 1) + """
sym AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn),
seeds AS (SELECT vec_id AS id FROM base WHERE vec_id % 50 = 0),
bfs AS (
  SELECT id, 0 AS hops FROM seeds
  UNION
  SELECT s.dst, b.hops + 1
  FROM bfs b JOIN sym s ON s.src = b.id
  WHERE b.hops < 6
)
SELECT CAST(id AS BIGINT) AS vec_id,
       CAST(MIN(hops) AS BIGINT) AS hops
FROM bfs GROUP BY id
""",
    description="Multi-source BFS hop distance over the undirected 3-NN "
                "cosine graph (seeds: every 50th vector, hop cap 6) — "
                "the contamination-radius query: how many similarity "
                "hops separate each document from a known-bad seed set. "
                "Spark side runs operators/cluster.bfs_hops (frontier/"
                "anti-join rounds, slim (id, hops) state, lineage "
                "truncated per round); the oracle replays the identical "
                "edge set via the shared _KNN3_SQL CTE and a UNION-"
                "deduped recursive CTE with min(hops). Distances are "
                "exact integers — frontier round h settles every node "
                "at hop h before h+1 — so the hash gate covers the "
                "traversal, not just counts.",
    tags=("llm", "graph", "iterative", "join"),
)
def knn_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.cluster import (
        bfs_hops,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.cosine_topk(emb, emb, k=3).select(
        F.col("query_id").alias("src"), F.col("match_id").alias("dst"))
    seeds = emb.where(F.col("vec_id") % 50 == 0).select("vec_id")
    out = bfs_hops(knn, seeds, max_hops=6)
    return out.select(F.col("id").cast("long").alias("vec_id"),
                      F.col("hops").cast("long").alias("hops"))


@register(
    "unigram_quality_score",
    # CCNet-style LM quality proxy without an external model: train the
    # unigram LM on the corpus itself (token frequencies), score each doc
    # by mean -log2 p(token) — bits/token. Low = repetitive/boilerplate,
    # high = rare-token soup; the distribution tails are what a curation
    # gate cuts. Fully SQL-expressible, so the whole train+score pipeline
    # is hash-checked.
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
  FROM documents
  WHERE {_NORM_SQL} <> ''
),
freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
total AS (SELECT COUNT(*) AS t FROM toks)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(-log2(freq.n / CAST(total.t AS DOUBLE))), 4) AS bits_per_token
FROM toks JOIN freq USING (tok) CROSS JOIN total
GROUP BY doc_id
""",
    description="Unigram LM quality score (CCNet-style proxy, "
                "self-trained): corpus token frequencies as the LM, "
                "per-doc mean -log2 p(token) in bits/token. Scale shape: "
                "tokenize+explode once, frequency table broadcasts "
                "(vocab << corpus), per-doc agg shuffles on doc_id only; "
                "at 100 TB the freq table is the trained artifact, "
                "written once and broadcast to every scoring run.",
    tags=("llm", "text", "quality"),
)
def unigram_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", T.normalized_text("text").alias("_n"))
        .where(F.col("_n") != "")
        .select("doc_id", F.explode(F.split("_n", " ")).alias("tok"))
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = toks.agg(F.count("*").alias("t"))
    return (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log2(F.col("n") / F.col("t").cast("double"))), 4)
             .alias("bits_per_token"),
        )
    )


@register(
    "tfidf_search",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
tf AS (
  SELECT doc_id, s AS tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS s FROM base)
  WHERE s IN ('spark', 'stream', 'join')
  GROUP BY 1, 2
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM base),
scored AS (
  SELECT doc_id, SUM(tf.tf * ln(n.n / CAST(dft.df AS DOUBLE))) AS s
  FROM tf JOIN dft USING (tok) CROSS JOIN n
  GROUP BY doc_id
)
SELECT doc_id, ROUND(s, 4) AS tfidf
FROM scored
ORDER BY ROUND(s, 4) DESC, doc_id
LIMIT 10
""",
    description="Classic TF-IDF top-10 retrieval for query {spark, "
                "stream, join} — the pre-BM25 baseline sharing bm25's "
                "scale shape: one-scan per-doc term frequencies, "
                "broadcast df frame, TakeOrderedAndProject top-k ranked "
                "by rounded score.",
    tags=("llm", "text", "retrieval"),
)
def tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.tfidf_topk(load_table(spark, sf_dir, "documents"),
                        ("spark", "stream", "join"))


from windowsession_using_kafka_flink_docker_spark.operators import cms as C  # noqa: E402

_CMS_D, _CMS_W = 4, 16  # width 16 on a 31-token vocab PLANTS collisions:
# the overcount column is non-vacuous by construction (embedding_neardups
# lesson); production widths are 2^14+ for the same plan.

_CMS_CELLS_SQL = " UNION ALL ".join(
    f"SELECT token, {r} AS r, "
    f"{C.duckdb_cms_bucket_sql('token', r, _CMS_W)} AS bucket FROM tok"
    for r in range(_CMS_D))


@register(
    "cms_frequency_audit",
    # The whole sketch pipeline — build (d×w cell counts), point
    # estimates (min over d cells), and the never-undercount audit —
    # replays in DuckDB because the bucket hash is md5 in both engines.
    oracle=f"""
WITH t AS (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token
           FROM documents),
tok AS (SELECT token FROM t WHERE token <> ''),
cells AS ({_CMS_CELLS_SQL}),
sketch AS (SELECT r, bucket, COUNT(*) AS n FROM cells GROUP BY 1, 2),
exact AS (SELECT token, COUNT(*) AS exact_n FROM tok
          GROUP BY token HAVING COUNT(*) >= 50),
audit AS (SELECT e.token, e.exact_n, MIN(s.n) AS cms_n
          FROM exact e
          JOIN (SELECT DISTINCT token, r, bucket FROM cells) tb
            USING (token)
          JOIN sketch s USING (r, bucket)
          GROUP BY 1, 2)
SELECT token, exact_n, cms_n, cms_n - exact_n AS overcount FROM audit
""",
    description="Count-min sketch frequency audit: build a d=4 × w=16 "
                "sketch over token occurrences (the sketch IS a groupBy — "
                "map-side partial counts merge cell-wise, the textbook "
                "CMS merge, so the same plan distributes or streams), "
                "then audit every token with exact count >= 50: the md5 "
                "bucket hash replays bit-identically in DuckDB, so "
                "estimate, exact, and the never-undercount overcount "
                "column are all value-hashed. w=16 against a 31-token "
                "vocab plants real collisions (overcount > 0 rows) by "
                "construction.",
    tags=("llm", "sketch", "text"),
)
def cms_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(T.normalized_text("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    # ≤ d×w rows; checkpoint so the 4 per-row broadcast slices don't each
    # replay the full corpus scan behind the sketch aggregation.
    sketch = C.cms_build(toks, depth=_CMS_D, width=_CMS_W).localCheckpoint()
    exact = (toks.groupBy("token")
             .agg(F.count(F.lit(1)).alias("exact_n"))
             .where(F.col("exact_n") >= 50))
    est = C.cms_estimate(exact, sketch, depth=_CMS_D, width=_CMS_W)
    return est.select(
        "token", "exact_n", "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"))


@register(
    "knn_triangle_count",
    # Oracle replays graph construction (shared _KNN3_SQL) + the
    # wedge-close join on the canonically ordered edge list.
    oracle=_KNN3_SQL + """
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM knn),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
members AS (SELECT unnest([x, y, z]) AS vec_id FROM tri)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM members GROUP BY vec_id
""",
    description="Per-node triangle participation over the undirected 3-NN "
                "cosine graph (graph-motif family next to the iterative "
                "pagerank/components operators): canonical low->high edge "
                "orientation makes each triangle countable exactly once "
                "via one wedge join (e1.b=e2.a) + one closing semi-probe — "
                "wedge volume is bounded by edges x max-degree, and the "
                "k-NN construction caps degree at k+incoming, the "
                "standard trick that keeps triangle listing near-linear "
                "on bounded-degree graphs at any scale. Oracle replays "
                "graph build + join plan verbatim.",
    tags=("llm", "graph", "join"),
)
def knn_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.cosine_topk(emb, emb, k=3).select(
        F.col("query_id").alias("src"), F.col("match_id").alias("dst"))
    und = (knn.select(F.least("src", "dst").alias("a"),
                      F.greatest("src", "dst").alias("b"))
           .distinct()
           # ≤ n_vectors*k rows; checkpoint so the three self-join legs
           # don't each replay the full cosine-topk pipeline.
           .localCheckpoint())
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (e1.join(e2, F.col("e1.b") == F.col("e2.a"))
           .join(e3, (F.col("e3.a") == F.col("e1.a"))
                 & (F.col("e3.b") == F.col("e2.b")))
           .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                   F.col("e2.b").alias("z")))
    return (tri.select(F.explode(F.array("x", "y", "z")).alias("vec_id"))
            .groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


@register(
    "weighted_sample_per_lang",
    # Efraimidis-Spirakis A-ES weighted sampling made deterministic and
    # oracle-replayable: the "random" u is an md5-prefix uniform (bit-
    # identical in DuckDB), the rank key ln(u)/w is the monotone log form
    # of u^(1/w), and the FLOAT KEY STAYS OUT of the hashed output (JVM
    # log and libm ln differ in the last ulp for ~8% of inputs — rank
    # order is ulp-stable because keys are ~1/n apart, but emitted floats
    # would hash-mismatch). doc_id breaks the (measure-zero) ties.
    oracle="""
WITH base AS (
  SELECT doc_id, lang,
         LEAST(5, 1 + CAST(floor(n_chars / 500.0) AS BIGINT)) AS w,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, w,
         row_number() OVER (PARTITION BY lang
                            ORDER BY ln(u) / w DESC, doc_id) AS rank
  FROM base
)
SELECT lang, doc_id, w, rank FROM ranked WHERE rank <= 20
""",
    description="Weighted sampling without replacement per stratum "
                "(Efraimidis-Spirakis A-ES): key = u^(1/w) ranked as "
                "ln(u)/w, u = md5-prefix uniform so the draw is "
                "deterministic AND fully DuckDB-replayable — the "
                "training-data shape for quality-weighted subcorpus "
                "selection (here w = length-bucket 1..5, 20 docs per "
                "lang). One window shuffle per stratum; at 100 TB the "
                "same key ranks under a per-partition top-k + merge "
                "instead of a full sort (the key, not the algorithm, is "
                "the contract).",
    tags=("llm", "sampling", "curation"),
)
def weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (F.conv(F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("bigint") / F.lit(4294967296.0))
    w = F.least(F.lit(5), 1 + F.floor(F.col("n_chars") / 500.0).cast("bigint"))
    base = docs.select("doc_id", "lang", w.alias("w"), u.alias("u"))
    wr = Window.partitionBy("lang").orderBy(
        (F.log("u") / F.col("w")).desc(), "doc_id")
    return (base.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= 20)
            .select("lang", "doc_id", "w", "rank"))


@register(
    "dedup_canonical_survivors",
    oracle=_CLUSTERS_CTE_SQL + """
, sel AS (
  SELECT comp.cluster_id, comp.doc_id, d.n_chars, csize.cluster_size,
         row_number() OVER (PARTITION BY comp.cluster_id
                            ORDER BY d.n_chars DESC, comp.doc_id) AS rk
  FROM comp
  JOIN csize USING (cluster_id)
  JOIN documents d USING (doc_id))
SELECT cluster_id, doc_id, n_chars, cluster_size,
       cluster_size - 1 AS n_dropped
FROM sel WHERE rk = 1
""",
    description="End-to-end near-dup dedup with QUALITY-aware survivor "
                "selection: ngram-Jaccard pairs -> connected components "
                "-> keep the LONGEST doc per cluster (tie: min doc_id) "
                "instead of the min-id canonical — the policy a real "
                "training-data pipeline wants ('keep the best copy'), "
                "composed from the shared pair/cluster stages plus one "
                "cluster-keyed window. Output is the kept set with "
                "per-cluster drop counts; the oracle replays clustering "
                "via the shared recursive-CTE closure and the same "
                "argmax.",
    tags=("llm", "dedup", "curation"),
)
def dedup_canonical_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.cluster import (
        neardup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    clusters = neardup_clusters(docs, _ngram_pairs(spark, sf_dir))
    wk = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") == 1)
        .select("cluster_id", "doc_id", "n_chars", "cluster_size",
                (F.col("cluster_size") - 1).alias("n_dropped"))
    )


@register(
    "sorted_neighborhood_neardups",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {_NORM_SQL} AS nt,
         list_distinct(string_split({_NORM_SQL}, ' ')) AS toks
  FROM documents),
ranked AS (
  SELECT doc_id, toks,
         row_number() OVER (ORDER BY nt, doc_id) AS rn
  FROM docs),
pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib,
         len(list_intersect(a.toks, b.toks)) AS ninter,
         len(a.toks) + len(b.toks)
           - len(list_intersect(a.toks, b.toks)) AS nunion
  FROM ranked a
  JOIN ranked b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3)
SELECT LEAST(ia, ib) AS id_a, GREATEST(ia, ib) AS id_b,
       ROUND(ninter / nunion, 4) AS jaccard
FROM pairs
WHERE ROUND(ninter / nunion, 4) >= 0.5
""",
    description="Sorted-neighborhood near-dup blocking (Hernandez-Stolfo "
                "SNM) — the third blocking family next to LSH banding "
                "and prefix filtering: sort every doc by its normalized "
                "text, compare each doc only with its w=3 successors in "
                "sort order, token-set Jaccard >= 0.5. Cost is exactly "
                "n*w comparisons regardless of skew — no bucket can go "
                "quadratic by construction. The global row_number here "
                "is the honest small-data rendering; the scale path — a "
                "range-partitioned sort with each partition's last w "
                "rows replicated as ghost rows into the next partition "
                "(operators/dedup.py:sorted_neighborhood_pairs_ranged, "
                "the bucketed as-of join's handoff pattern) — is "
                "IMPLEMENTED and equality-pinned by "
                "tests/test_dedup_similarity.py.",
    tags=("llm", "dedup", "blocking"),
)
def sorted_neighborhood_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nt = T.normalized_text("text")
    base = docs.select(
        "doc_id", nt.alias("nt"),
        F.array_distinct(F.split(nt, " ")).alias("toks"))
    ranked = base.withColumn(
        "rn", F.row_number().over(Window.orderBy("nt", "doc_id")))
    w = 3
    left = ranked.select(
        F.col("doc_id").alias("ia"), F.col("toks").alias("ta"),
        F.explode(F.array(*[F.col("rn") + j for j in range(1, w + 1)]))
        .alias("rn"))
    pairs = left.join(
        ranked.select("rn", F.col("doc_id").alias("ib"),
                      F.col("toks").alias("tb")),
        "rn")
    ninter = F.size(F.array_intersect("ta", "tb"))
    jacc = F.round(
        ninter.cast("double")
        / (F.size("ta") + F.size("tb") - ninter), 4)
    return (
        pairs.select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            jacc.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


@register(
    "bloom_membership_audit",
    # The md5-position trick from the KMV/CMS entries applied to a Bloom
    # filter: the bit positions are a pure function of the key, so DuckDB
    # rebuilds the IDENTICAL filter and every audit number — including
    # the realized false-positive count, not just a bound boolean — is
    # value-hashed.
    oracle="""
WITH build AS (
  SELECT DISTINCT o_custkey AS k FROM orders
  WHERE o_orderpriority = '1-URGENT'),
probe AS (SELECT DISTINCT o_custkey AS k FROM orders),
bpos AS (
  SELECT DISTINCT
         ('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || i), 1, 8))::BIGINT
           % 16384 AS pos
  FROM build, range(1, 4) t(i)),
ppos AS (
  SELECT k,
         ('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || i), 1, 8))::BIGINT
           % 16384 AS pos
  FROM probe, range(1, 4) t(i)),
verdict AS (
  SELECT p.k,
         COUNT(DISTINCT p.pos) AS n_pos,
         COUNT(DISTINCT CASE WHEN b.pos IS NOT NULL THEN p.pos END) AS n_hit,
         MAX(CASE WHEN p.k IN (SELECT k FROM build) THEN 1 ELSE 0 END) AS truth
  FROM ppos p LEFT JOIN bpos b ON b.pos = p.pos
  GROUP BY p.k)
SELECT COUNT(*) AS n_probe,
       (SELECT COUNT(*) FROM build) AS n_build,
       CAST(SUM(truth) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN truth = 1 AND n_hit = n_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true_pass,
       CAST(SUM(CASE WHEN truth = 0 AND n_hit = n_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM verdict
""",
    description="Bloom-filter membership as first-class, replayable data: "
                "k=3 md5-derived bit positions over an m=16384 grid, "
                "built from URGENT-order customers, probed with every "
                "customer. n_true_pass == n_true hash-proves the no-"
                "false-negative law; n_false_pos is the REALIZED fp "
                "count, hash-checked exactly (not a bound boolean) "
                "because both engines derive the same positions. At "
                "scale the position set (<= m rows) is the broadcast "
                "side of a semi-join that prunes the probe scan — the "
                "manual rendering of the runtime row-filter Spark's AQE "
                "injects (see test_plan_quality's might_contain probe).",
    tags=("llm", "sketch", "join", "audit"),
)
def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m, k = 16384, 3

    def positions(key: F.Column) -> F.Column:
        return F.array_distinct(F.array(*[
            F.pmod(
                F.conv(F.substring(
                    F.md5(F.concat(key.cast("string"), F.lit(f":{i}"))
                          .cast("binary")), 1, 8), 16, 10).cast("bigint"),
                F.lit(m))
            for i in range(1, k + 1)]))

    build = (orders.where(F.col("o_orderpriority") == "1-URGENT")
             .select("o_custkey").distinct())
    probe = orders.select("o_custkey").distinct()
    bpos = (build.select(F.explode(positions(F.col("o_custkey")))
                         .alias("pos")).distinct())
    ppos = probe.select(
        "o_custkey",
        F.explode(positions(F.col("o_custkey"))).alias("pos"))
    # positions() is array_distinct per customer, so (custkey, pos) rows
    # are already unique — plain counts equal the distinct counts and
    # avoid the Expand a 2-countDistinct aggregate would plan
    hits = (ppos.join(F.broadcast(bpos.withColumn("hit", F.lit(1))),
                      "pos", "left")
            .groupBy("o_custkey")
            .agg(F.count("pos").alias("n_pos"),
                 F.count(F.when(F.col("hit").isNotNull(),
                                F.col("pos"))).alias("n_hit")))
    truth = build.withColumn("truth", F.lit(1))
    verdict = hits.join(F.broadcast(truth), "o_custkey", "left") \
        .withColumn("truth", F.coalesce("truth", F.lit(0)))
    n_build = build.agg(F.count(F.lit(1)).alias("n_build"))
    return verdict.crossJoin(F.broadcast(n_build)).agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.first("n_build").cast("long").alias("n_build"),
        F.sum("truth").cast("long").alias("n_true"),
        F.sum(F.when((F.col("truth") == 1)
                     & (F.col("n_hit") == F.col("n_pos")), 1)
              .otherwise(0)).cast("long").alias("n_true_pass"),
        F.sum(F.when((F.col("truth") == 0)
                     & (F.col("n_hit") == F.col("n_pos")), 1)
              .otherwise(0)).cast("long").alias("n_false_pos"),
    )


@register(
    "bigram_lm_bits",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
  FROM documents
  WHERE len(string_split({_NORM_SQL}, ' ')) >= 2),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS b
  FROM base),
bc AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
wc AS (SELECT split_part(b, ' ', 1) AS w1, COUNT(*) AS c1
       FROM bg GROUP BY 1)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(AVG(-log2(bc.c / CAST(wc.c1 AS DOUBLE))), 4) AS bits_per_bigram
FROM bg
JOIN bc USING (b)
JOIN wc ON wc.w1 = split_part(bg.b, ' ', 1)
GROUP BY doc_id
""",
    description="Bigram language-model scoring — the conditional-"
                "probability step up from the unigram_quality_score "
                "entry: train bigram counts c(w1 w2) and first-position "
                "counts c(w1 .) on the corpus itself (one pass, two "
                "map-side-combined groupBys over the exploded bigram "
                "stream), score each doc by mean -log2 p(w2|w1) in "
                "bits/bigram. No smoothing needed: scoring the training "
                "corpus means every bigram has c >= 1. The join back is "
                "keyed on the joint bigram string; at 100 TB the zipfian "
                "head of the bigram dictionary broadcasts and only the "
                "tail shuffles (the salted-agg playbook). Train AND "
                "score are both inside the driver hash.",
    tags=("llm", "text", "quality", "lm"),
)
def bigram_lm_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(T.normalized_text("text"), " ")
    base = (docs.select("doc_id", toks.alias("toks"))
            .where(F.size("toks") >= 2))
    bg = base.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("toks", i),
                F.element_at("toks", i + F.lit(1))))).alias("b"))
    bc = bg.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    wc = (bg.select(F.split_part("b", F.lit(" "), F.lit(1)).alias("w1"))
          .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    scored = (bg
              .join(bc, "b")
              .join(wc, F.split_part("b", F.lit(" "), F.lit(1)) == F.col("w1"))
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.round(F.avg(-F.log2(F.col("c")
                                         / F.col("c1").cast("double"))), 4)
                   .alias("bits_per_bigram")))
    return scored


# ---------------------------------------------------------------------------
# Round 7: driver-oracled recall audits for the last two approximate
# families whose quality gate lived only in pytest (VERDICT r6 item 2).
# Pattern: run the REAL operator in `portable` mode (md5-derived hashes in
# place of xxhash64 — same algorithm, same permutation family / chunking,
# same caps) so DuckDB replays the ENTIRE approximate pipeline
# bit-identically, then hash-check the measured recall against the exact
# truth set — the ann_recall_vs_exact discipline extended to MinHash-LSH
# and SimHash.

# The MinHash permutation family as a DuckDB VALUES list — the SAME (a, b)
# pairs operators/dedup.py:_perm_params generates (deterministic seeded
# LCG), so the oracle's signatures are bit-identical to Spark's.
_PERM_VALUES_SQL = ",\n    ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(D._perm_params(64)))

# Shared CTE prefix: word-3-shingles -> md5 base hashes -> 64 minhashes ->
# 16 band keys -> capped buckets -> candidate pairs -> exact-Jaccard
# verification (>= 0.5) = the portable MinHash-LSH pair set; plus the
# exact all-pairs truth from the inverted index (same SQL as the
# ngram_jaccard_neardups oracle).
_MINHASH_RECALL_SQL = """
WITH docs AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, GREATEST(len(toks) - 2, 1) + 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
           )
         ) AS sh
  FROM (SELECT doc_id, string_split(""" + _NORM_SQL + """, ' ') AS toks FROM documents)
),
inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
sized AS (SELECT doc_id, len(sh) AS n FROM docs),
tp AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2) p
  JOIN sized na ON na.doc_id = p.id_a
  JOIN sized nb ON nb.doc_id = p.id_b
  WHERE ROUND(n_shared / (na.n + nb.n - n_shared), 4) >= 0.5
),
perms(j, a, b) AS (VALUES
    """ + _PERM_VALUES_SQL + """
),
bh AS (
  SELECT doc_id,
         list_transform(sh, s ->
           ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647) AS hs
  FROM docs),
ex AS (SELECT doc_id, unnest(hs) AS h FROM bh),
pm AS (
  SELECT doc_id, j, MIN((a * h + b) % 2147483647) AS m
  FROM ex CROSS JOIN perms GROUP BY doc_id, j),
sg AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM pm GROUP BY doc_id),
bd AS (
  SELECT doc_id, b,
         md5(array_to_string(
           list_transform(list_slice(sig, b*4 + 1, b*4 + 4),
                          x -> CAST(x AS VARCHAR)), ',')) AS bkey
  FROM sg CROSS JOIN (SELECT unnest(range(16)) AS b)),
capped AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY b, bkey) AS _bsz FROM bd)
  WHERE _bsz <= 1000),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM capped x JOIN capped y ON x.b = y.b AND x.bkey = y.bkey
  WHERE x.doc_id < y.doc_id),
lsh AS (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b,
           len(list_intersect(da.sh, db.sh)) AS i,
           len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS u
    FROM cand c JOIN docs da ON da.doc_id = c.id_a
                JOIN docs db ON db.doc_id = c.id_b)
  WHERE CASE WHEN u = 0 THEN 1.0 ELSE ROUND(i / u, 4) END >= 0.5),
counts AS (
  SELECT (SELECT COUNT(*) FROM tp) AS n_true,
         (SELECT COUNT(*) FROM lsh) AS n_lsh,
         (SELECT COUNT(*) FROM tp JOIN lsh USING (id_a, id_b)) AS n_rec)
SELECT CAST(n_true AS BIGINT) AS n_true_pairs,
       CAST(n_lsh AS BIGINT) AS n_lsh_pairs,
       CAST(n_rec AS BIGINT) AS n_recalled,
       CAST(CASE WHEN n_true = 0 THEN 10000
                 ELSE floor(n_rec * 10000.0 / n_true) END AS BIGINT)
         AS recall_e4,
       CASE WHEN n_true = 0 THEN TRUE
            ELSE floor(n_rec * 10000.0 / n_true) >= 9000 END AS recall_ok,
       n_lsh = n_rec AS precision_exact
FROM counts
"""


@register(
    "minhash_recall_vs_exact",
    oracle=_MINHASH_RECALL_SQL,
    description="Measured recall of the MinHash(64)+LSH(16 bands) "
                "near-dup pipeline against the exact ngram-Jaccard truth "
                "set, as one hash-checked scalar row: the oracle replays "
                "the ENTIRE portable pipeline in DuckDB (md5 base hashes "
                "folded into the Mersenne field, the same seeded-LCG "
                "permutation family, band keys, the 1000-doc bucket cap, "
                "candidate join, exact-Jaccard verification) "
                "bit-identically, so n_lsh_pairs and recall_e4 are "
                "measured in both engines and value-hashed — recall is "
                "no longer asserted in pytest alone (VERDICT r6 item 2). "
                "precision_exact pins that verification makes the LSH "
                "output a subset of the truth set; recall_ok pins the "
                "scaled-floor recall >= 0.9 (the 16x4 S-curve passes "
                ">=99% of pairs at the planted-dup similarity levels). "
                "Scale shape identical to the production entry: the only "
                "difference is md5 for xxhash64.",
    tags=("llm", "dedup", "minhash", "quality", "audit"),
)
def minhash_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    true_pairs = (_ngram_pairs(spark, sf_dir)
                  .select("id_a", "id_b").withColumn("_t", F.lit(1)))
    lsh = (D.minhash_lsh_pairs(docs, portable=True,
                               shingles=_shingle_stage(spark, sf_dir))
           .select("id_a", "id_b").withColumn("_l", F.lit(1)))
    j = true_pairs.join(lsh, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce(F.col("_t"), F.lit(0))).alias("n_true"),
        F.sum(F.coalesce(F.col("_l"), F.lit(0))).alias("n_lsh"),
        F.sum(F.when((F.col("_t") == 1) & (F.col("_l") == 1), 1)
              .otherwise(0)).alias("n_rec"))
    recall = F.floor(F.col("n_rec") * 10000.0 / F.col("n_true"))
    return agg.select(
        F.col("n_true").cast("long").alias("n_true_pairs"),
        F.col("n_lsh").cast("long").alias("n_lsh_pairs"),
        F.col("n_rec").cast("long").alias("n_recalled"),
        F.when(F.col("n_true") == 0, F.lit(10000)).otherwise(recall)
         .cast("long").alias("recall_e4"),
        F.when(F.col("n_true") == 0, F.lit(True))
         .otherwise(recall >= 9000).alias("recall_ok"),
        (F.col("n_lsh") == F.col("n_rec")).alias("precision_exact"))


# SimHash audit: same discipline. Truth = the exact word-3-gram Jaccard
# >= 0.5 pair set (shared with the MinHash audit); detector = the real
# simhash_near_dups operator in portable mode (60-bit md5 token hashes,
# 4 x 15-bit chunk blocking, 10k bucket cap) at Hamming <= 8 — the
# operating point for paraphrase-level near-dups of short documents
# (each changed token in a short doc flips many bit-votes, so the
# production Hamming <= 3 point only catches near-identical token sets;
# measured here: recall 0.84-0.86 at h=8 vs 0.24 at h=3).
_SIMHASH_RECALL_SQL = """
WITH docs AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, GREATEST(len(toks) - 2, 1) + 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
           )
         ) AS sh
  FROM (SELECT doc_id, string_split(""" + _NORM_SQL + """, ' ') AS toks FROM documents)
),
inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
sized AS (SELECT doc_id, len(sh) AS n FROM docs),
tp AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2) p
  JOIN sized na ON na.doc_id = p.id_a
  JOIN sized nb ON nb.doc_id = p.id_b
  WHERE ROUND(n_shared / (na.n + nb.n - n_shared), 4) >= 0.5
),
tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(""" + _NORM_SQL + """, ' '))) AS t
  FROM documents),
th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) GROUP BY doc_id, b),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                       ELSE 0 END) AS BIGINT) AS s
  FROM votes GROUP BY doc_id),
ch AS (
  SELECT doc_id, c, (s >> (c * 15)) & 32767 AS chunk
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c)),
capped AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY c, chunk) AS _bsz FROM ch)
  WHERE _bsz <= 10000),
sp AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM capped x JOIN capped y ON x.c = y.c AND x.chunk = y.chunk
  WHERE x.doc_id < y.doc_id),
sim AS (
  SELECT sp.id_a, sp.id_b
  FROM sp JOIN sig sa ON sa.doc_id = sp.id_a
          JOIN sig sb ON sb.doc_id = sp.id_b
  WHERE bit_count(xor(sa.s, sb.s)) <= 8),
counts AS (
  SELECT (SELECT COUNT(*) FROM tp) AS n_true,
         (SELECT COUNT(*) FROM sim) AS n_sim,
         (SELECT COUNT(*) FROM tp JOIN sim USING (id_a, id_b)) AS n_rec)
SELECT CAST(n_true AS BIGINT) AS n_true_pairs,
       CAST(n_sim AS BIGINT) AS n_simhash_pairs,
       CAST(n_rec AS BIGINT) AS n_recalled,
       CAST(CASE WHEN n_true = 0 THEN 10000
                 ELSE floor(n_rec * 10000.0 / n_true) END AS BIGINT)
         AS recall_e4,
       CASE WHEN n_true = 0 THEN TRUE
            ELSE floor(n_rec * 10000.0 / n_true) >= 8000 END AS recall_ok
FROM counts
"""


@register(
    "simhash_recall_vs_exact",
    oracle=_SIMHASH_RECALL_SQL,
    description="Measured recall of the blocked SimHash near-dup "
                "detector against the exact ngram-Jaccard truth set, as "
                "one hash-checked scalar row: the oracle replays the "
                "ENTIRE portable pipeline in DuckDB (60-bit md5 token "
                "hashes, per-bit majority vote, 4 x 15-bit chunk "
                "blocking with the 10k bucket cap, Hamming <= 8 over "
                "bit_count(xor)) bit-identically, so n_simhash_pairs and "
                "recall_e4 are measured in both engines and value-hashed "
                "(VERDICT r6 item 2 — the last approximate family whose "
                "quality gate lived only in pytest). recall_ok pins the "
                "scaled-floor recall >= 0.8 at the Hamming-8 paraphrase "
                "operating point (short docs flip many bit-votes per "
                "changed token, so the Hamming-3 template point only "
                "sees near-identical token sets). Scale shape identical "
                "to the production entry: chunk blocking + cap, no "
                "all-pairs stage anywhere.",
    tags=("llm", "dedup", "simhash", "quality", "audit"),
)
def simhash_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    truth = (_ngram_pairs(spark, sf_dir)
             .select("id_a", "id_b").withColumn("_t", F.lit(1)))
    sim = (D.simhash_near_dups(docs, portable=True, max_hamming=8)
           .select("id_a", "id_b").withColumn("_l", F.lit(1)))
    j = truth.join(sim, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce(F.col("_t"), F.lit(0))).alias("n_true"),
        F.sum(F.coalesce(F.col("_l"), F.lit(0))).alias("n_sim"),
        F.sum(F.when((F.col("_t") == 1) & (F.col("_l") == 1), 1)
              .otherwise(0)).alias("n_rec"))
    recall = F.floor(F.col("n_rec") * 10000.0 / F.col("n_true"))
    return agg.select(
        F.col("n_true").cast("long").alias("n_true_pairs"),
        F.col("n_sim").cast("long").alias("n_simhash_pairs"),
        F.col("n_rec").cast("long").alias("n_recalled"),
        F.when(F.col("n_true") == 0, F.lit(10000)).otherwise(recall)
         .cast("long").alias("recall_e4"),
        F.when(F.col("n_true") == 0, F.lit(True))
         .otherwise(recall >= 8000).alias("recall_ok"))


@register(
    "largest_remainder_quota",
    oracle="""
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
ext AS (SELECT lang, n, SUM(n) OVER () AS total FROM counts),
b AS (
  SELECT lang, n, total,
         (1000 * n) // total AS base,
         1000 * n - ((1000 * n) // total) * total AS rem
  FROM ext),
d AS (
  SELECT *, 1000 - SUM(base) OVER () AS deficit,
         row_number() OVER (ORDER BY rem DESC, lang) AS rn
  FROM b)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       CAST(base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM d
""",
    description="Largest-remainder (Hamilton) apportionment of a "
                "1000-slot sampling budget across languages — the quota "
                "arithmetic behind stratified_sample done EXACTLY: base "
                "quota = integer-division floor of the proportional "
                "share, then the leftover slots go to the largest "
                "remainders (1000*n - base*total, an exact BIGINT — "
                "never a float fraction), ties broken by lang. "
                "Guarantees the quotas sum to exactly 1000 and each "
                "stratum is within one slot of exact proportionality — "
                "what independent per-stratum rounding cannot. The "
                "whole-frame windows run over the LANGUAGE domain (a "
                "handful of rows after the aggregate), not over "
                "documents — the same tiny-domain single-partition "
                "pattern as global_rank_ranged's 16-row offset frame.",
    tags=("llm", "sampling", "curation", "aggregate"),
)
def largest_remainder_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    wall = Window.partitionBy()
    ext = counts.select("lang", "n", F.sum("n").over(wall).alias("total"))
    b = ext.select(
        "lang", "n", "total",
        F.expr("div(1000 * n, total)").alias("base"),
        (1000 * F.col("n")
         - F.expr("div(1000 * n, total)") * F.col("total")).alias("rem"))
    d = b.select(
        "*",
        (1000 - F.sum("base").over(wall)).alias("deficit"),
        F.row_number().over(
            Window.orderBy(F.desc("rem"), F.asc("lang"))).alias("rn"))
    return d.select(
        "lang", F.col("n").cast("long").alias("n_docs"),
        (F.col("base") + F.when(F.col("rn") <= F.col("deficit"), 1)
         .otherwise(0)).cast("long").alias("quota"))


@register(
    "knn_degree_assortativity",
    oracle=_KNN3_SQL + """
sym AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src),
pairs AS (
  SELECT da.d AS x, db.d AS y
  FROM sym e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs),
exact AS (
  SELECT n, sx, sy, sxy, sxx, syy,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
  FROM stats)
SELECT n AS n_edges, sx, sy, sxy, sxx, syy,
       CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
                 ELSE floor(CAST(num AS DOUBLE)
                            / (sqrt(CAST(dx AS DOUBLE))
                               * sqrt(CAST(dy AS DOUBLE))) * 1000000)
            END AS BIGINT) AS assortativity_e6
FROM exact
""",
    description="Degree assortativity of the undirected 3-NN cosine "
                "graph — the Pearson correlation of endpoint degrees "
                "over the symmetrized edge list, the graph-health "
                "statistic that distinguishes hub-and-spoke similarity "
                "structure (disassortative, near-dup clusters glued to "
                "boilerplate hubs) from degree-uniform neighborhoods. "
                "Same discipline as grouped_ols_trend: the five "
                "sufficient statistics are EXACT BIGINTs from one "
                "aggregation over the edge frame (degrees joined in from "
                "a node-sized count that broadcasts), the Pearson "
                "numerator n*sxy-sx*sy and both sqrt radicands are "
                "formed EXACTLY in DECIMAL(38,0)/HUGEINT (no "
                "round-before-subtract even at 1e12 edges), and the "
                "final correlation is ONE identical IEEE expression in "
                "both engines (sqrt is correctly rounded), scaled-"
                "floored to e6. The oracle replays the shared _KNN3_SQL "
                "edge derivation, so the graph is bit-identical to the "
                "PageRank/triangle/BFS entries'.",
    tags=("llm", "graph", "aggregate", "quality"),
)
def knn_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.cosine_topk(emb, emb, k=3).select(
        F.col("query_id").alias("src"), F.col("match_id").alias("dst"))
    sym = (knn.union(knn.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
           .distinct())
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("d")).withColumnRenamed(
        "src", "id")
    pairs = (sym
             .join(F.broadcast(deg.select(F.col("id").alias("src"),
                                          F.col("d").alias("x"))), "src")
             .join(F.broadcast(deg.select(F.col("id").alias("dst"),
                                          F.col("d").alias("y"))), "dst"))
    stats = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"))
    # Cancellation-free Pearson (the Welch lesson generalized): the
    # numerator n*sxy - sx*sy and both sqrt radicands are formed EXACTLY
    # in DECIMAL(38,0)/HUGEINT before the single cast to double — the
    # old form did the products in double, exact at 3-NN degree scale
    # but rounding-before-subtracting at 1e12-edge scale.
    dec38 = "decimal(38,0)"
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    nd = n.cast(dec38)
    num = nd * F.col("sxy").cast(dec38) - sx.cast(dec38) * sy.cast(dec38)
    dx = nd * F.col("sxx").cast(dec38) - sx.cast(dec38) * sx.cast(dec38)
    dy = nd * F.col("syy").cast(dec38) - sy.cast(dec38) * sy.cast(dec38)
    exact = stats.select(
        "n", "sx", "sy", "sxy", "sxx", "syy",
        num.alias("num"), dx.alias("dx"), dy.alias("dy"))
    r = (F.col("num").cast("double")
         / (F.sqrt(F.col("dx").cast("double"))
            * F.sqrt(F.col("dy").cast("double"))))
    return exact.select(
        F.col("n").alias("n_edges"), "sx", "sy", "sxy", "sxx", "syy",
        F.when((F.col("dx") == 0) | (F.col("dy") == 0), F.lit(0))
        .otherwise(F.floor(r * 1000000)).cast("long")
        .alias("assortativity_e6"))


@register(
    "embedding_norm_audit",
    oracle="""
WITH norms AS (
  SELECT vec_id,
         sqrt(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
           (a, b) -> a + b)) AS nrm
  FROM embeddings)
SELECT CAST(floor(nrm * 100) AS BIGINT) AS norm_bucket_e2,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
FROM norms GROUP BY 1
""",
    description="L2-norm histogram of the embedding column at cm "
                "resolution — the vector-QA primitive that catches "
                "unnormalized or degenerate embeddings before they "
                "poison cosine math downstream. Determinism detail: the "
                "sum of squares is an explicit LEFT FOLD in both engines "
                "(Spark aggregate() over the double-cast array, DuckDB "
                "list_reduce over a 0.0-prepended square list), because "
                "a engine-chosen summation order could differ in the "
                "last ulp and flip a floor bucket; sqrt is IEEE "
                "correctly-rounded so the composed value is "
                "bit-identical. Per-vector map work + one bucket-keyed "
                "aggregate: embarrassingly parallel at any scale.",
    tags=("llm", "embedding", "quality", "audit"),
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x)
    norms = emb.select("vec_id", F.sqrt(sq_sum).alias("nrm"))
    return (norms
            .groupBy(F.floor(F.col("nrm") * 100).cast("long")
                     .alias("norm_bucket_e2"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"),
                 F.min("vec_id").cast("long").alias("min_vec_id")))


@register(
    "knn_neighbor_jaccard",
    oracle=_KNN3_SQL + """
sym AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src),
shared AS (
  SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
  GROUP BY 1, 2)
SELECT u, v, n_shared,
       CAST(floor(n_shared * 10000.0 / (du.d + dv.d - n_shared))
            AS BIGINT) AS jaccard_e4
FROM shared JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v
WHERE n_shared >= 2
""",
    description="Neighbor-set Jaccard similarity between node pairs of "
                "the undirected 3-NN cosine graph — structural "
                "similarity (two documents whose similarity "
                "NEIGHBORHOODS agree) as opposed to direct cosine, the "
                "link-prediction/SimRank-lite primitive. Co-neighbor "
                "counts come from the same wedge join as "
                "knn_triangle_count (pairs through a shared neighbor, "
                "grouped — |N(u) ∩ N(v)| without ever materializing "
                "neighbor sets), degrees join in from a node-sized "
                "count, and the Jaccard is one scaled-floor division "
                "over exact BIGINTs. The kNN construction bounds "
                "out-degree at k, so wedge fan-out per node is bounded "
                "by total degree — the degree-capped variant of the "
                "triangle entry is the hub escape hatch at 100 TB. "
                "Reported at support >= 2 shared neighbors (the "
                "support-1 tail is noise for ranking).",
    tags=("llm", "graph", "join", "similarity"),
)
def knn_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.cosine_topk(emb, emb, k=3).select(
        F.col("query_id").alias("src"), F.col("match_id").alias("dst"))
    sym = (knn.union(knn.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"))).distinct())
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("d"))
    a = sym.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    b = sym.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    shared = (a.join(b, "w").where(F.col("u") < F.col("v"))
              .groupBy("u", "v")
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
              .where(F.col("n_shared") >= 2))
    du = F.broadcast(deg.select(F.col("src").alias("u"),
                                F.col("d").alias("du")))
    dv = F.broadcast(deg.select(F.col("src").alias("v"),
                                F.col("d").alias("dv")))
    return (shared.join(du, "u").join(dv, "v")
            .select("u", "v", "n_shared",
                    F.floor(F.col("n_shared") * 10000.0
                            / (F.col("du") + F.col("dv")
                               - F.col("n_shared"))).cast("long")
                    .alias("jaccard_e4")))


@register(
    "knn_local_clustering",
    oracle=_KNN3_SQL + """
sym AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src),
ce AS (SELECT src AS u, dst AS v FROM sym WHERE src < dst),
closed AS (
  SELECT a.src AS w, CAST(COUNT(*) AS BIGINT) AS tri
  FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
  JOIN ce ON ce.u = a.dst AND ce.v = b.dst
  GROUP BY a.src)
SELECT deg.id, deg.d AS degree,
       CAST(COALESCE(closed.tri, 0) AS BIGINT) AS n_triangles,
       CAST(floor(2.0 * COALESCE(closed.tri, 0) * 10000
                  / (deg.d * (deg.d - 1))) AS BIGINT) AS clustering_e4
FROM deg LEFT JOIN closed ON closed.w = deg.id
WHERE deg.d >= 2
""",
    description="Local clustering coefficient per node of the "
                "undirected 3-NN cosine graph: closed wedges at each "
                "center over possible wedges d(d-1)/2 — the node-level "
                "refinement of knn_triangle_count (a near-dup cluster "
                "shows cc ~= 1, a boilerplate hub cc ~= 0, so this is "
                "the per-document signal the global count hides). Same "
                "wedge join as the triangle entry with the canonical "
                "edge set probed for closure; counts exact BIGINT, the "
                "coefficient one scaled-floor expression over integers. "
                "Wedge fan-out is bounded by the kNN degree (the "
                "degree-capped variant is the hub escape hatch at "
                "scale); nodes of degree < 2 are excluded (coefficient "
                "undefined).",
    tags=("llm", "graph", "join", "quality"),
)
def knn_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.cosine_topk(emb, emb, k=3).select(
        F.col("query_id").alias("src"), F.col("match_id").alias("dst"))
    sym = (knn.union(knn.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"))).distinct())
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")).withColumnRenamed(
        "src", "id")
    ce = (sym.where(F.col("src") < F.col("dst"))
          .select(F.col("src").alias("u"), F.col("dst").alias("v")))
    a = sym.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    b = sym.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    closed = (a.join(b, "w").where(F.col("u") < F.col("v"))
              .join(ce, ["u", "v"])
              .groupBy("w")
              .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    return (deg.where(F.col("degree") >= 2)
            .join(closed.withColumnRenamed("w", "id"), "id", "left")
            .select(
                "id", "degree",
                F.coalesce("n_triangles", F.lit(0)).cast("long")
                .alias("n_triangles"),
                F.floor(2.0 * F.coalesce("n_triangles", F.lit(0)) * 10000
                        / (F.col("degree") * (F.col("degree") - 1)))
                .cast("long").alias("clustering_e4")))


@register(
    "containment_neardups",
    oracle="""
WITH docs AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, GREATEST(len(toks) - 2, 1) + 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
           )
         ) AS sh
  FROM (SELECT doc_id, string_split(""" + _NORM_SQL + """, ' ') AS toks FROM documents)
),
inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
sized AS (SELECT doc_id, len(sh) AS n FROM docs),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT id_a AS contained_id, id_b AS container_id,
       ROUND(n_shared / na.n, 4) AS containment
FROM shared
JOIN sized na ON na.doc_id = id_a
JOIN sized nb ON nb.doc_id = id_b
WHERE (na.n < nb.n OR (na.n = nb.n AND id_a < id_b))
  AND ROUND(n_shared / na.n, 4) >= 0.8
""",
    description="Asymmetric containment near-dups over word 3-shingles "
                "(|A intersect B| / |A| >= 0.8 with A the smaller set): "
                "the quote/boilerplate-INCLUSION detector that symmetric "
                "Jaccard structurally misses — a short document embedded "
                "verbatim in a long one has Jaccard near zero but "
                "containment near one. Exact recall via the containment "
                "prefix filter (only the contained side indexes its "
                "|A| - ceil(t|A|) + 1 RAREST shingles, probed against "
                "the full inverted index — rare-prefix keys keep hot "
                "boilerplate grams out of the join), exact precision by "
                "full-set verification, so the oracle is plain all-pairs "
                "semantics. Equal-size pairs canonicalize to the "
                "smaller id. The fourth blocking family next to banding "
                "(MinHash), chunk pigeonhole (SimHash) and "
                "sorted-neighborhood windows.",
    tags=("llm", "dedup", "ngram", "blocking"),
)
def containment_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment_pairs(spark, sf_dir)


@register(
    "dup_cluster_size_histogram",
    oracle=_CLUSTERS_CTE_SQL + """
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
FROM csize GROUP BY cluster_size
""",
    description="Size distribution of the near-dup clusters — the "
                "dedup-impact report every curation run reads before "
                "deleting anything: how many clusters of each size, how "
                "many documents they hold, and the removable count "
                "(size-1 per cluster = docs dropped if one survivor is "
                "kept). One tiny groupBy over the connected-components "
                "output, so it shares every stage (shingles, exact "
                "pairs, label propagation) with neardup_clusters / "
                "dedup_canonical_survivors via the per-session memos; "
                "the oracle reuses the identical recursive-CTE closure. "
                "The engine counts on the is_canonical rows (exactly one "
                "per cluster by construction), so the groupBy aggregates "
                "one slim row per cluster, not one per document, and the "
                "doc/removable totals are pure arithmetic on the grouped "
                "key. Singleton clusters dominate by construction, so the "
                "histogram is also the sanity check that clustering "
                "didn't collapse the corpus.",
    tags=("llm", "dedup", "graph", "audit"),
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.cluster import (
        neardup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = neardup_clusters(docs, _ngram_pairs(spark, sf_dir))
    counts = (comp.filter(F.col("is_canonical"))
              .groupBy(F.col("cluster_size").cast("long")
                       .alias("cluster_size"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_clusters")))
    return counts.select(
        "cluster_size", "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("long").alias("n_docs"),
        ((F.col("cluster_size") - F.lit(1)) * F.col("n_clusters"))
        .cast("long").alias("n_removable"))


@register(
    "containment_canonical_survivors",
    oracle=f"""
WITH RECURSIVE docs AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, GREATEST(len(toks) - 2, 1) + 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
           )
         ) AS sh
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
        FROM documents)
),
inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
sized AS (SELECT doc_id, len(sh) AS n FROM docs),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2),
cp AS (
  SELECT id_a, id_b
  FROM shared
  JOIN sized na ON na.doc_id = id_a
  JOIN sized nb ON nb.doc_id = id_b
  WHERE (na.n < nb.n OR (na.n = nb.n AND id_a < id_b))
    AND ROUND(n_shared / na.n, 4) >= 0.8),
edges AS (SELECT id_a AS u, id_b AS v FROM cp
          UNION ALL
          SELECT id_b, id_a FROM cp),
reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp
          GROUP BY 1),
sel AS (
  SELECT comp.cluster_id, comp.doc_id, d.n_chars, csize.cluster_size,
         row_number() OVER (PARTITION BY comp.cluster_id
                            ORDER BY d.n_chars DESC, comp.doc_id) AS rk
  FROM comp
  JOIN csize USING (cluster_id)
  JOIN documents d USING (doc_id))
SELECT cluster_id, doc_id, n_chars, cluster_size,
       cluster_size - 1 AS n_dropped
FROM sel WHERE rk = 1
""",
    description="Quality-aware survivor selection over the CONTAINMENT "
                "graph (VERDICT r7 item 7): containment pairs -> "
                "connected components -> keep the LONGEST doc per "
                "cluster (tie: min doc_id). The Jaccard-based "
                "dedup_canonical_survivors structurally misses "
                "quote/boilerplate-inclusion chains — a short doc "
                "embedded in two long ones links all three here (A in "
                "B, A in C) while pairwise Jaccard sees nothing — and "
                "keeping the longest member per containment cluster is "
                "precisely 'keep the superset copy'. Composed from the "
                "memoized containment pair stage (shared with "
                "containment_neardups), the shared label-propagation "
                "operator, and one cluster-keyed window; the oracle "
                "replays the same graph through the recursive-CTE "
                "closure over the all-pairs containment predicate.",
    tags=("llm", "dedup", "graph", "curation"),
)
def containment_canonical_survivors(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.cluster import (
        neardup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _containment_pairs(spark, sf_dir).select(
        F.col("contained_id").alias("id_a"),
        F.col("container_id").alias("id_b"))
    clusters = neardup_clusters(docs, pairs)
    wk = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") == 1)
        .select("cluster_id", "doc_id", "n_chars", "cluster_size",
                (F.col("cluster_size") - 1).alias("n_dropped"))
    )


@register(
    "zipf_rank_frequency",
    oracle="""
WITH freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(""" + _NORM_SQL + """, ' ')) AS token
        FROM documents)
  WHERE token <> ''
  GROUP BY token),
top AS (
  SELECT token, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
  FROM freq ORDER BY n DESC, token LIMIT 50),
expect AS (
  SELECT rank, token, n,
         CAST(MAX(n) OVER () // rank AS BIGINT) AS zipf_expected
  FROM top)
SELECT CAST(rank AS BIGINT) AS rank, token, n, zipf_expected,
       CAST(CASE WHEN zipf_expected > 0
                 THEN (ABS(n - zipf_expected) * 10000) // zipf_expected
            END AS BIGINT) AS deviation_e4
FROM expect
""",
    description="Zipf's-law corpus audit: the top-50 rank-frequency table "
                "with the ideal Zipf expectation n(1)/rank and each "
                "token's deviation from it — the standard corpus-health "
                "check that a scraped/deduped corpus still has a natural "
                "token distribution (a flat curve means boilerplate "
                "flooding; a cliff means over-aggressive dedup). Shares "
                "the normalize-tokenize-count stages with "
                "heavy_hitter_tokens; the rank and the expectation are "
                "PURE INTEGER arithmetic (row_number over the "
                "deterministic count-then-token order, floor of the "
                "max-count/rank quotient) so every cell is hash-exact — "
                "no logs, no float summation; the deviation guards "
                "zipf_expected = 0 (possible on degenerate corpora where "
                "rank > max(n)) identically on both engines because an "
                "unguarded x/0 NULLs in Spark but raises in DuckDB. "
                "Scale shape: explode -> "
                "map-side partial count -> one agg shuffle -> "
                "TakeOrderedAndProject; the windows run on the 50-row "
                "post-limit frame only (provably tiny domain, same "
                "precedent as the partition-count frames).",
    tags=("llm", "text", "topk", "audit"),
)
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_from_freq(_token_freq(spark, sf_dir))


def zipf_from_freq(freq: DataFrame) -> DataFrame:
    """Zipf-table derivation over a (token, n) frequency frame — shared
    with the streaming token-frequency maintainer like
    heavy_hitters_from_freq."""
    top = heavy_hitters_from_freq(freq)
    w_rank = Window.orderBy(F.desc("n"), "token")
    w_all = Window.partitionBy()
    # exact integer divisions (the HHI lesson): the double forms round
    # max(n) quotients and |n-e|*1e4 past 2^53 at ~1e12-token corpora
    ranked = top.select(
        F.row_number().over(w_rank).cast("long").alias("rank"),
        "token", "n",
        (F.max("n").over(w_all).cast("long")
         .alias("_mx")))
    ranked = ranked.select(
        "rank", "token", "n",
        F.expr("_mx div rank").cast("long").alias("zipf_expected"))
    # zipf_expected floors to 0 once rank > max(n) (degenerate/tiny
    # corpora — exactly where the streaming maintainer serves this
    # presentation early in a stream). An unguarded division then NULLs
    # in Spark but RAISES in DuckDB; the explicit guard keeps the two
    # engines in lockstep (both emit NULL).
    return ranked.select(
        "rank", "token", "n", "zipf_expected",
        F.expr("CASE WHEN zipf_expected > 0 THEN "
               "(abs(n - zipf_expected) * 10000) div zipf_expected END")
        .cast("long").alias("deviation_e4"))


@register(
    "eval_ngram_novelty",
    oracle="""
WITH docs_sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, GREATEST(len(toks) - 2, 1) + 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
           )
         ) AS sh,
         CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3')
              THEN 'eval' ELSE 'train' END AS split
  FROM (SELECT doc_id, text,
               string_split(""" + _NORM_SQL + """, ' ') AS toks
        FROM documents)),
inv AS (SELECT doc_id, split, unnest(sh) AS s FROM docs_sh),
train_s AS (SELECT DISTINCT s FROM inv WHERE split = 'train'),
eval_tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM inv WHERE split = 'eval' GROUP BY 1),
eval_seen AS (
  SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS n_seen
  FROM inv i JOIN train_s t USING (s)
  WHERE i.split = 'eval' GROUP BY 1)
SELECT t.doc_id, t.n_shingles,
       COALESCE(e.n_seen, 0) AS n_seen,
       CAST((t.n_shingles - COALESCE(e.n_seen, 0)) * 10000
            // t.n_shingles AS BIGINT) AS novelty_e4
FROM eval_tot t LEFT JOIN eval_seen e USING (doc_id)
""",
    description="Per-eval-doc n-gram novelty against the train split: the "
                "share of an eval document's distinct word-3-shingles "
                "that appear NOWHERE in the train half of the "
                "hash_split_train_test partition — the memorization/"
                "contamination reading an eval-set owner needs (novelty "
                "~0 means the eval doc is effectively memorized training "
                "text; decontaminate_train_set answers the converse "
                "question by REMOVING leaked train docs, this one SCORES "
                "the eval side without touching the corpus). Reuses the "
                "persisted per-session shingle stage shared by the whole "
                "dedup family and the same md5 text split as "
                "hash_split_train_test; the novelty ratio is an exact "
                "integer floor-division. Scale shape: one distinct over "
                "train shingles, one shingle-keyed semi-ish join (LEFT "
                "SEMI in Spark), both shuffling slim (doc_id, shingle) "
                "pairs — at 100 TB the shingle join key becomes "
                "xxhash64(shingle) to shrink the exchange, exactly the "
                "winnowing playbook.",
    tags=("llm", "text", "dedup", "audit"),
)
def eval_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split_frame = docs.select(
        F.col("doc_id"),
        F.when(F.substring(F.md5(F.col("text").cast("binary")), 1, 1)
               .isin("0", "1", "2", "3"), "eval")
        .otherwise("train").alias("split"))
    sh = _shingle_stage(spark, sf_dir)
    ex = (sh.select(F.col("_id").alias("doc_id"),
                    F.explode("_sh").alias("s"))
          .join(split_frame, "doc_id"))
    train_s = (ex.where(F.col("split") == "train")
               .select("s").distinct())
    eval_ex = ex.where(F.col("split") == "eval")
    tot = eval_ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"))
    seen = (eval_ex.join(train_s, "s", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_seen")))
    return (tot.join(seen, "doc_id", "left")
            .select("doc_id", "n_shingles",
                    F.coalesce(F.col("n_seen"), F.lit(0)).cast("long")
                    .alias("n_seen"),
                    F.expr("(n_shingles - coalesce(n_seen, 0)) * 10000"
                           " div n_shingles")
                    .cast("long").alias("novelty_e4")))


@register(
    "image_ahash_fingerprints",
    # The PNG payloads carry closed-form pixels (media_codec._mix_bytes:
    # byte i of image doc_id is (i*2654435761 + doc_id*97 + 13) % 256 —
    # numpy's uint64 wrap is invisible mod 256 since 256 | 2^64), so the
    # oracle recomputes BOTH hashes arithmetically while Spark must
    # inflate real IDAT streams, unfilter rows, nearest-neighbor resample
    # through re-encode, and hash genuine pixel arrays to match.
    oracle="""
WITH imgs AS (
  SELECT doc_id,
         CAST(doc_id % 48 + 16 AS BIGINT) AS w,
         CAST(doc_id % 32 + 16 AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 = 0),
opx AS (
  SELECT doc_id, w, h, unnest(range(w * h)) AS p FROM imgs),
ogray AS (
  SELECT doc_id, w, h,
         (p % w) * 8 // w AS bx,
         (p // w) * 8 // h AS by,
         ((3 * p) * 2654435761 + doc_id * 97 + 13) % 256
       + ((3 * p + 1) * 2654435761 + doc_id * 97 + 13) % 256
       + ((3 * p + 2) * 2654435761 + doc_id * 97 + 13) % 256 AS gray
  FROM opx),
oblocks AS (
  SELECT doc_id, by, bx, CAST(SUM(gray) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ogray GROUP BY 1, 2, 3),
otot AS (
  SELECT doc_id, CAST(SUM(s) AS BIGINT) AS stot,
         CAST(SUM(n) AS BIGINT) AS ntot
  FROM oblocks GROUP BY 1),
obit AS (
  SELECT b.doc_id, b.by * 8 + b.bx AS k,
         CASE WHEN b.s * t.ntot > t.stot * b.n THEN 1 ELSE 0 END AS bit
  FROM oblocks b JOIN otot t USING (doc_id)),
rpx AS (
  SELECT doc_id, w, h, unnest(range(1024)) AS q FROM imgs),
rgray AS (
  SELECT doc_id,
         (q % 32) // 4 AS bx,
         (q // 32) // 4 AS by,
         ((3 * p) * 2654435761 + doc_id * 97 + 13) % 256
       + ((3 * p + 1) * 2654435761 + doc_id * 97 + 13) % 256
       + ((3 * p + 2) * 2654435761 + doc_id * 97 + 13) % 256 AS gray
  FROM (SELECT doc_id, q,
               ((q // 32) * h // 32) * w + ((q % 32) * w // 32) AS p
        FROM rpx)),
rblocks AS (
  SELECT doc_id, by, bx, CAST(SUM(gray) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM rgray GROUP BY 1, 2, 3),
rtot AS (
  SELECT doc_id, CAST(SUM(s) AS BIGINT) AS stot,
         CAST(SUM(n) AS BIGINT) AS ntot
  FROM rblocks GROUP BY 1),
rbit AS (
  SELECT b.doc_id, b.by * 8 + b.bx AS k,
         CASE WHEN b.s * t.ntot > t.stot * b.n THEN 1 ELSE 0 END AS bit
  FROM rblocks b JOIN rtot t USING (doc_id))
SELECT i.doc_id,
       CAST(i.w AS INTEGER) AS width,
       CAST(i.h AS INTEGER) AS height,
       (SELECT string_agg(CAST(o.bit AS VARCHAR), '' ORDER BY o.k)
        FROM obit o WHERE o.doc_id = i.doc_id) AS ahash,
       (SELECT string_agg(CAST(r.bit AS VARCHAR), '' ORDER BY r.k)
        FROM rbit r WHERE r.doc_id = i.doc_id) AS ahash_resized,
       (SELECT CAST(SUM(CASE WHEN o.bit <> r.bit THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM obit o JOIN rbit r USING (doc_id, k)
        WHERE o.doc_id = i.doc_id) AS hamming_resize
FROM imgs i
""",
    description="Image perceptual fingerprints over the REAL PNG codec "
                "path: decode pixels (zlib inflate + per-row unfilter), "
                "64-bit average-hash them (8x8 block partition, block lit "
                "iff block-mean gray beats image-mean by the exact "
                "integer cross-multiplication s*N > S*n — no float "
                "threshold, no division), then resample to 32x32 through "
                "the genuine nearest-neighbor resizer (decode -> "
                "index-map -> re-encode -> decode again) and hash the "
                "resized image; the per-image Hamming distance between "
                "the two hashes is the resize-robustness reading that "
                "makes aHash the standard image near-dup key (small on "
                "structured images — pinned in tests/test_multimodal.py "
                "on a gradient; LARGE on this fixture's pseudorandom "
                "pixels, whose block means all sit within a hair of the "
                "global mean — which makes the fixture the adversarial "
                "case for threshold parity: 64 near-tie integer "
                "comparisons per image, every one agreeing across "
                "engines). The oracle "
                "rebuilds BOTH hashes arithmetically from the closed-form "
                "pixel formula, so a single wrong byte anywhere in the "
                "inflate/unfilter/resample path breaks the driver hash — "
                "the pixel-level deepening of media_features' header "
                "parity. Scale shape: Arrow-batched mapInPandas per "
                "image, no shuffle at all (the hash string becomes the "
                "blocking key for Hamming-bucketed image dedup — the "
                "SimHash chunk playbook on a binary column).",
    bench=True,
    tags=("llm", "multimodal", "dedup", "fingerprint"),
)
def image_ahash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.image_ahash_features(M.attach_media(docs))


@register(
    "image_jpeg_ahash",
    # Exactness hinges on the fixture design (media_codec.py:
    # build_jpeg_flat_blocks): block-flat 64x64 content makes every AC
    # coefficient exactly zero, the integer-snapped DC of a constant
    # block is (v-128)*8 exactly (orthonormal DCT), and qualities
    # {25,50,75} scale the Annex-K table so q00 in {32,16,8} — all
    # multiples of 8 — so quantize -> dequantize -> IDCT -> +128 is pure
    # integer arithmetic the oracle replays per block. Spark, meanwhile,
    # must run the REAL codec both ways: Huffman-encode genuine
    # entropy-coded bytes (differential DC, category/appended-bits,
    # EOB, 0xFF stuffing), then marker-parse, rebuild canonical codes
    # from the DHT payload, and bit-decode the scan. One wrong bit
    # anywhere flips a decoded value and breaks the driver hash.
    oracle="""
WITH imgs AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INTEGER)
              WHEN 0 THEN 32 WHEN 1 THEN 16 ELSE 8 END AS q00
  FROM documents),
blocks AS (
  SELECT doc_id, q00, unnest(range(64)) AS b FROM imgs),
px AS (
  SELECT doc_id, q00, b,
         (b * 2654435761 + doc_id * 97 + 13) % 256 AS v
  FROM blocks),
dequant AS (
  SELECT doc_id, q00, b, v,
         (v - 128) * 8 AS t,
         (2 * abs((v - 128) * 8) + q00) // (2 * q00) AS mag
  FROM px),
dec AS (
  SELECT doc_id, q00, b, v,
         LEAST(GREATEST(
           (CASE WHEN t < 0 THEN -mag ELSE mag END * q00) // 8 + 128,
           0), 255) AS d
  FROM dequant),
tot AS (
  SELECT doc_id, CAST(SUM(d) AS BIGINT) AS dtot,
         CAST(64 * SUM(abs(d - v)) AS BIGINT) AS abs_err
  FROM dec GROUP BY 1)
SELECT d.doc_id,
       CAST(64 AS INTEGER) AS width,
       CAST(64 AS INTEGER) AS height,
       CAST(d.q00 AS INTEGER) AS q00,
       string_agg(CASE WHEN d.d * 64 > t.dtot THEN '1' ELSE '0' END,
                  '' ORDER BY d.b) AS ahash,
       t.abs_err
FROM dec d JOIN tot t USING (doc_id)
GROUP BY d.doc_id, d.q00, t.abs_err
""",
    description="JPEG baseline round-trip fingerprints over the REAL "
                "codec path (the round-12 stretch: the most common "
                "multimodal format gets pixel-level parity beside "
                "PNG/WAV/MP4): encode a deterministic 64x64 grayscale "
                "fixture through the full baseline pipeline — forward "
                "DCT, integer coefficient snap, round-half-away "
                "quantization at quality {25,50,75} (doc_id % 3), "
                "zigzag, differential-DC + run-length-AC Huffman with "
                "the Annex-K tables, 0xFF byte stuffing, real "
                "JFIF/DQT/SOF0/DHT/SOS markers — then decode it back "
                "for real: marker walk, canonical Huffman rebuild from "
                "the DHT payload, bit-level entropy decode, dequantize, "
                "orthonormal IDCT, clamp. Emits the parsed header "
                "(width, height, q00 — the scaled DC quantizer, i.e. "
                "the quality fingerprint), the 64-bit average-hash of "
                "the DECODED pixels (integer cross-multiplication "
                "threshold), and abs_err = sum |decoded - source| over "
                "all 4096 pixels — the quantization-loss reading that "
                "shrinks as quality rises (q00 32 -> 8). The oracle "
                "replays the reconstruction closed-form per 8x8 block "
                "(the fixture makes it exact integer arithmetic), so a "
                "single wrong bit in the Huffman stream, one "
                "mis-rebuilt canonical code, or an off-by-one in the "
                "quantizer breaks the driver hash. Scale shape: "
                "Arrow-batched mapInPandas behind one id-column "
                "balancing exchange (the scan alone can be a single "
                "row-group = one partition; the exchange buys core-"
                "count parallelism at any layout); the hash is "
                "the Hamming-bucket key for image dedup exactly as in "
                "image_ahash_fingerprints.",
    bench=True,
    tags=("llm", "multimodal", "fingerprint"),
)
def image_jpeg_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.image_jpeg_features(docs)


@register(
    "jpeg_hamming_neardups",
    # Brute-force oracle vs blocked Spark path: the oracle computes ALL
    # C(n,2) Hamming distances from the closed-form decoded blocks (the
    # image_jpeg_ahash arithmetic), while Spark must find the same pairs
    # through the 4x16-bit chunk blocking — pigeonhole guarantees any
    # pair at Hamming <= 3 shares at least one chunk, so at the <= 1
    # gate the blocked result is PROVABLY identical to brute force and
    # the driver hash doubles as a blocking-recall audit (the
    # minhash_recall_vs_exact discipline, here with exact identity).
    oracle="""
WITH imgs AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INTEGER)
              WHEN 0 THEN 32 WHEN 1 THEN 16 ELSE 8 END AS q00
  FROM documents),
blocks AS (
  SELECT doc_id, q00, unnest(range(64)) AS b FROM imgs),
px AS (
  SELECT doc_id, q00, b,
         (b * 2654435761 + doc_id * 97 + 13) % 256 AS v
  FROM blocks),
dequant AS (
  SELECT doc_id, q00, b,
         (v - 128) * 8 AS t,
         (2 * abs((v - 128) * 8) + q00) // (2 * q00) AS mag
  FROM px),
dec AS (
  SELECT doc_id, b,
         LEAST(GREATEST(
           (CASE WHEN t < 0 THEN -mag ELSE mag END * q00) // 8 + 128,
           0), 255) AS d
  FROM dequant),
bits AS (
  SELECT doc_id, b,
         CASE WHEN d * 64 > SUM(d) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS bit
  FROM dec)
SELECT a.doc_id AS doc_lo, b.doc_id AS doc_hi,
       CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
            AS INTEGER) AS hamming,
       (b.doc_id - a.doc_id) % 256 = 0 AS same_content
FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 1
""",
    description="Image near-duplicate pairs by perceptual-hash Hamming "
                "distance over the REAL JPEG codec path — the use the "
                "image_jpeg_ahash docstring promises, closed end to end: "
                "each document's 64-bit aHash (computed from genuinely "
                "entropy-decoded pixels) splits into 4 x 16-bit chunks, "
                "candidate pairs share at least one chunk value "
                "(pigeonhole: complete for Hamming <= 3, so exact at "
                "the <= 1 gate — never an all-pairs comparison), and "
                "survivors carry their exact Hamming distance plus a "
                "same_content flag (the fixture mixer is mod-256, so "
                "doc_ids 256 apart encode the SAME image at different "
                "JPEG quality — the practical 'same photo, different "
                "compression' near-dup). The result is simultaneously a "
                "recall reading (every same-content pair lands at "
                "Hamming <= 1 across quality levels — pinned in pytest) "
                "and an honest precision reading: aHash is invariant to "
                "constant brightness shifts BY DESIGN, and the fixture's "
                "cross-doc content differs exactly by such shifts (mod "
                "wraparound), so the flagged-false pairs quantify that "
                "known collision mass instead of hiding it. Scale "
                "shape: features staged once (localCheckpoint) so the "
                "self-join cannot re-run the codec; the chunk join is "
                "bucket-bounded (65,536 buckets per chunk index); at "
                "100 TB identical-image floods cap per-bucket like the "
                "SimHash path; output is pair-bounded by construction "
                "at the tight gate.",
    tags=("llm", "multimodal", "dedup", "fingerprint"),
)
def jpeg_hamming_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jpeg_hamming_pairs(docs)


def jpeg_hamming_pairs(docs: DataFrame) -> DataFrame:
    """The blocked pair pipeline behind ``jpeg_hamming_neardups``,
    reusable over any doc_id frame (tools/ scale measurements drive it
    at 10x/100x synthetic corpus sizes). Composition of the codec-side
    fingerprint stage and the pair presentation — streaming maintainer
    #23 holds the former as state and presents through the latter, so
    stream == batch is one code path."""
    return hamming_pairs_from_sides(jpeg_fingerprint_sides(docs))


def jpeg_fingerprint_sides(docs: DataFrame) -> DataFrame:
    """Per-document chunk-bucket membership rows: (doc_id, hash_hi,
    hash_lo, pos, chunk) — four rows per doc, one per 16-bit aHash
    chunk. This is the mergeable unit of the JPEG fingerprint family:
    rows are a pure function of the document, so the maintainer's merge
    is set-union (dropDuplicates on the (doc_id, pos) key), bounded by
    4 x |docs| at any stream length, and the expensive codec runs ONCE
    per document ever — new batches encode only their own docs."""
    feats = M.image_jpeg_features(docs).select(
        "doc_id",
        F.conv(F.substring("ahash", 1, 32), 2, 10)
        .cast("long").alias("hash_hi"),
        F.conv(F.substring("ahash", 33, 32), 2, 10)
        .cast("long").alias("hash_lo"),
        F.array(*[F.substring("ahash", i * 16 + 1, 16) for i in range(4)])
        .alias("chunks"),
    ).localCheckpoint(eager=False)
    return feats.select(
        "doc_id", "hash_hi", "hash_lo",
        F.posexplode("chunks").alias("pos", "chunk"))


def hamming_pairs_from_sides(sides: DataFrame) -> DataFrame:
    """Pair presentation over the chunk-bucket membership rows: bucket
    join per (pos, chunk) — pigeonhole-complete at Hamming <= 3, used
    at the <= 1 gate — then exact 64-bit Hamming verify."""
    a, b = sides.alias("a"), sides.alias("b")
    pairs = (a.join(b, (F.col("a.pos") == F.col("b.pos"))
                    & (F.col("a.chunk") == F.col("b.chunk"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_lo"),
                     F.col("b.doc_id").alias("doc_hi"),
                     (F.bit_count(F.col("a.hash_hi")
                                  .bitwiseXOR(F.col("b.hash_hi")))
                      + F.bit_count(F.col("a.hash_lo")
                                    .bitwiseXOR(F.col("b.hash_lo"))))
                     .cast("int").alias("hamming"))
             .where(F.col("hamming") <= 1)
             .distinct())
    return pairs.select(
        "doc_lo", "doc_hi", "hamming",
        ((F.col("doc_hi") - F.col("doc_lo")) % 256 == 0)
        .alias("same_content"))


@register(
    "feature_hashed_counts",
    # The hash is the repo-standard md5 prefix (('0x'||substr(md5(t),
    # 1,8))::BIGINT == Spark's conv(substring(md5,1,8),16,10)), so the
    # bucket assignment and the sign bit (9th hex nibble) replay
    # bit-identically in DuckDB — the whole sparse matrix is
    # value-hash-checked, not just its shape.
    oracle="""
WITH toks AS (
  SELECT doc_id, token
  FROM (SELECT doc_id,
               unnest(string_split(""" + _NORM_SQL + """, ' ')) AS token
        FROM documents)
  WHERE token <> ''),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 8))::BIGINT % 256 AS bucket,
         CASE WHEN ('0x' || substr(md5(token), 9, 1))::BIGINT >= 8
              THEN -1 ELSE 1 END AS sgn
  FROM toks)
SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
       CAST(SUM(sgn) AS BIGINT) AS val
FROM hashed
GROUP BY 1, 2
HAVING SUM(sgn) <> 0
""",
    description="Feature hashing (the 'hashing trick', Weinberger et "
                "al. ICML'09) — the standard fixed-dimension text "
                "featurizer for ML training pipelines: every token "
                "maps to one of 256 buckets by its md5 prefix, carries "
                "a +/-1 sign from the next hex nibble (the signed "
                "variant that makes collisions cancel in expectation "
                "instead of biasing counts upward), and the per-(doc, "
                "bucket) signed sums form the sparse feature matrix — "
                "no vocabulary, no fit step, no dictionary to ship to "
                "1000 executors, which is the entire point of the "
                "trick at 100 TB (a TF-IDF vocabulary is corpus-sized "
                "state; the hash function is 0 bytes). Zero-valued "
                "cells (sign-cancelled collisions) are dropped so the "
                "output contract is genuinely sparse and deterministic "
                "in both engines. Plan shape: explode -> one map-side-"
                "combinable (doc, bucket) aggregate, output bounded by "
                "|docs| x 256, no join, no window.",
    tags=("llm", "text", "embedding", "aggregate"),
)
def feature_hashed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return hashed_feature_matrix(docs)


def hashed_feature_matrix(docs: DataFrame) -> DataFrame:
    """The sparse (doc_id, bucket, val) hashed-feature matrix — shared
    by the batch entry, the moments entry, and maintainer #22."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(T.normalized_text("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    h8 = F.conv(F.substring(F.md5(F.col("token").cast("binary")), 1, 8),
                16, 10).cast("bigint")
    nib = F.conv(F.substring(F.md5(F.col("token").cast("binary")), 9, 1),
                 16, 10).cast("bigint")
    hashed = toks.select(
        "doc_id",
        (h8 % 256).cast("int").alias("bucket"),
        F.when(nib >= 8, -1).otherwise(1).alias("sgn"))
    return (hashed.groupBy("doc_id", "bucket")
            .agg(F.sum("sgn").cast("long").alias("val"))
            .where(F.col("val") != 0))


@register(
    "rrf_hybrid_search",
    # Both source rankings are the entries' OWN pipelines (BM25 top-50
    # and the unigram-LM quality score), re-ranked here and fused by
    # reciprocal rank. The fused score is the sum of at most two
    # 1/(60+rank) doubles added in a fixed order (bm25 term first),
    # so both engines compute the identical IEEE value; ranks
    # themselves are integers ordered by the entries' already
    # hash-stable rounded scores with doc_id tiebreaks.
    oracle=f"""
WITH base AS (
  SELECT doc_id, len(t) AS dl, t
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents)
),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM base),
tf AS (
  SELECT doc_id, dl, s AS tok, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(t) AS s FROM base)
  WHERE s IN ('spark', 'stream', 'join')
  GROUP BY 1, 2, 3
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id,
         SUM( ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dft USING (tok) CROSS JOIN stats
  GROUP BY doc_id
),
bm25_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY ROUND(s, 4) DESC, doc_id)
         AS r_bm25
  FROM scored
  QUALIFY r_bm25 <= 50
),
toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
  FROM documents
  WHERE {_NORM_SQL} <> ''
),
freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
total AS (SELECT COUNT(*) AS t FROM toks),
qual AS (
  SELECT doc_id,
         ROUND(AVG(-log2(freq.n / CAST(total.t AS DOUBLE))), 4) AS bits
  FROM toks JOIN freq USING (tok) CROSS JOIN total
  GROUP BY doc_id
),
qual_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY bits DESC, doc_id) AS r_qual
  FROM qual
  QUALIFY r_qual <= 50
),
fused AS (
  SELECT COALESCE(b.doc_id, q.doc_id) AS doc_id,
         b.r_bm25, q.r_qual,
         COALESCE(1.0 / (60 + b.r_bm25), 0.0)
           + COALESCE(1.0 / (60 + q.r_qual), 0.0) AS rrf
  FROM bm25_rank b FULL OUTER JOIN qual_rank q USING (doc_id)
)
SELECT doc_id, r_bm25, r_qual,
       CAST(floor(rrf * 1000000000) AS BIGINT) AS rrf_e9,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= 10
""",
    description="Reciprocal-rank fusion (Cormack et al., SIGIR'09) — "
                "the standard hybrid-search combiner: the BM25 "
                "relevance ranking for query {spark, stream, join} "
                "(top-50, the bm25_search pipeline) fuses with the "
                "unigram-LM quality-prior ranking (top-50 by "
                "bits/token, the unigram_quality_score pipeline) via "
                "score = sum 1/(60 + rank), k=60 per the paper — rank "
                "fusion needs NO score calibration between "
                "heterogeneous rankers, which is why it is the "
                "production default for lexical+semantic hybrids. Both "
                "legs run the entries' own code (one code path each); "
                "each leg is dimension-small after its own top-50 cut, "
                "so the fusion is a 50x50 full outer join on doc_id — "
                "broadcast-sized regardless of corpus scale — and the "
                "final top-10 is a TakeOrderedAndProject. Emits the "
                "per-leg ranks (NULL where a doc appears in only one "
                "leg — the fusion's whole point) beside the fused "
                "score and rank.",
    tags=("llm", "text", "retrieval", "topk"),
)
def rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w_b = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    bm25 = (T.bm25_topk(docs, ("spark", "stream", "join"), k=50)
            .select("doc_id", "bm25")
            .withColumn("r_bm25", F.row_number().over(w_b).cast("long"))
            .select("doc_id", "r_bm25"))
    qual = unigram_quality_score(spark, sf_dir).select(
        "doc_id", "bits_per_token")
    w_q = Window.orderBy(F.col("bits_per_token").desc(), F.col("doc_id"))
    qual_rank = (qual
                 .withColumn("r_qual",
                             F.row_number().over(w_q).cast("long"))
                 .where(F.col("r_qual") <= 50)
                 .select("doc_id", "r_qual"))
    fused = (bm25.join(qual_rank, "doc_id", "full_outer")
             .select("doc_id", "r_bm25", "r_qual",
                     (F.coalesce(1.0 / (60 + F.col("r_bm25")), F.lit(0.0))
                      + F.coalesce(1.0 / (60 + F.col("r_qual")),
                                   F.lit(0.0))).alias("rrf")))
    w_f = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (fused
            .withColumn("fused_rank", F.row_number().over(w_f)
                        .cast("long"))
            .where(F.col("fused_rank") <= 10)
            .select("doc_id", "r_bm25", "r_qual",
                    F.floor(F.col("rrf") * 1000000000).cast("long")
                    .alias("rrf_e9"),
                    "fused_rank"))


def feature_moments_from_matrix(matrix: DataFrame) -> DataFrame:
    """Presentation shared by the batch entry and maintainer #22: the
    per-bucket standardization report from the (bucket, n, s, ss)
    moment state. The DERIVED mean/std are one IEEE expression each
    over exact integers (the welch cancellation-free discipline:
    variance numerator n*ss - s^2 exact in DECIMAL(38,0), cast to
    double once)."""
    dec38 = "decimal(38,0)"
    var_num = (F.col("n").cast(dec38) * F.col("ss")
               - F.col("s").cast(dec38) * F.col("s").cast(dec38))
    return matrix.select(
        "bucket", "n", "s",
        F.col("ss").cast("double").alias("ss"),
        F.floor(F.col("s").cast("double") / F.col("n").cast("double")
                * 1000000).cast("long").alias("mean_e6"),
        F.floor(F.sqrt(var_num.cast("double")
                       / (F.col("n").cast("double")
                          * F.col("n").cast("double"))) * 1000000)
        .cast("long").alias("std_e6"))


def feature_bucket_partials(docs: DataFrame) -> DataFrame:
    """The mergeable 256-row moment state behind
    ``feature_bucket_moments`` (and streaming maintainer #22): per
    hash bucket, the count / sum / sum-of-squares of the non-zero
    matrix cells. All three ADD under merge... with the one honest
    caveat the maintainer's docstring carries: cells are per-document,
    so DOCUMENT-sliced batches add exactly (a doc's cells live in one
    batch); value-sliced batches would not, and the maintainer's
    contract is document-at-a-time arrival — the natural unit of a
    corpus stream."""
    m = hashed_feature_matrix(docs)
    vdec = F.col("val").cast("decimal(19,0)")
    return (m.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("val").cast("long").alias("s"),
                 F.sum(vdec * vdec).alias("ss")))


@register(
    "feature_bucket_moments",
    # n*ss - s^2 exact in HUGEINT/DECIMAL(38,0), one double division +
    # sqrt per output (the welch discipline); population std (n, not
    # n-1) so a 1-cell bucket reads 0, not NULL.
    oracle="""
WITH toks AS (
  SELECT doc_id, token
  FROM (SELECT doc_id,
               unnest(string_split(""" + _NORM_SQL + """, ' ')) AS token
        FROM documents)
  WHERE token <> ''),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 8))::BIGINT % 256 AS bucket,
         CASE WHEN ('0x' || substr(md5(token), 9, 1))::BIGINT >= 8
              THEN -1 ELSE 1 END AS sgn
  FROM toks),
cells AS (
  SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS val
  FROM hashed GROUP BY 1, 2
  HAVING SUM(sgn) <> 0),
mom AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(val) AS BIGINT) AS s,
         SUM(CAST(val AS HUGEINT) * val) AS ss
  FROM cells GROUP BY 1)
SELECT CAST(bucket AS INTEGER) AS bucket, n, s, CAST(ss AS DOUBLE) AS ss,
       CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000)
            AS BIGINT) AS mean_e6,
       CAST(floor(sqrt(CAST(CAST(n AS HUGEINT) * ss
                            - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                            AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                  * 1000000) AS BIGINT) AS std_e6
FROM mom
""",
    description="Per-bucket standardization statistics for the hashed "
                "feature matrix — the artifact an ML pipeline ships "
                "next to the features themselves (serving-time "
                "standardization needs the TRAINING corpus's per-"
                "dimension mean/std, and recomputing them per run is a "
                "full-corpus pass): count, sum, and sum-of-squares of "
                "the non-zero cells per hash bucket (exact BIGINT + "
                "DECIMAL(38,0)), with the derived mean_e6/std_e6 one "
                "IEEE expression each over the exact moments (welch "
                "cancellation-free variance, population std). The "
                "state is 256 rows AT ANY CORPUS SIZE — the extreme "
                "point of the key-space-bounded family — and all three "
                "moments ADD under document-sliced merge, which is "
                "what streaming maintainer #22 exploits.",
    tags=("llm", "embedding", "aggregate", "quality"),
)
def feature_bucket_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return feature_moments_from_matrix(feature_bucket_partials(docs))


@register(
    "image_jpeg420_planes",
    # Closed-form exactness without the multiple-of-8 convenience the
    # grayscale fixture had: chroma q00 scales to {34, 17, 9}, so
    # recon/8 + 128.5 can be EXACTLY integral (recon % 8 == 4) and the
    # decoder's float IDCT decides the floor at a half-ulp boundary —
    # the orthonormal basis constant a = 0.5/sqrt(2) squares to
    # 0.1249999... not 0.125, so the honest oracle replays the
    # decoder's own IEEE tree floor((a * recon) * a + 128.5) with the
    # round-tripping double literal (verified identical to numpy's
    # matmul for every reachable recon). Spark runs the REAL
    # interleaved codec: four
    # Y blocks + Cb + Cr per MCU, three DC predictor chains, two
    # Huffman-coded quant domains — one bit wrong in any chain shifts a
    # plane sum and breaks the driver hash.
    oracle="""
WITH imgs AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INTEGER)
              WHEN 0 THEN 32 WHEN 1 THEN 16 ELSE 8 END AS ql00,
         CASE CAST(doc_id % 3 AS INTEGER)
              WHEN 0 THEN 34 WHEN 1 THEN 17 ELSE 9 END AS qc00
  FROM documents),
planes AS (
  SELECT doc_id, ql00, qc00, p.plane, p.seed, p.nblocks, p.q
  FROM imgs,
       LATERAL (SELECT * FROM (VALUES
         ('y',  doc_id,         16, ql00),
         ('cb', doc_id * 7 + 1,  4, qc00),
         ('cr', doc_id * 7 + 2,  4, qc00))
         AS t(plane, seed, nblocks, q)) p),
blocks AS (
  SELECT doc_id, plane, q, unnest(range(nblocks)) AS b, seed
  FROM planes),
px AS (
  SELECT doc_id, plane, q, b,
         (b * 2654435761 + seed * 97 + 13) % 256 AS v
  FROM blocks),
recon_t AS (
  SELECT doc_id, plane, v,
         (CASE WHEN (v - 128) < 0 THEN -1 ELSE 1 END)
           * ((2 * abs((v - 128) * 8) + q) // (2 * q)) * q AS recon
  FROM px),
dec AS (
  SELECT doc_id, plane, v,
         LEAST(GREATEST(CAST(floor(
           (0.35355339059327373e0 * recon) * 0.35355339059327373e0 + 128.5e0)
           AS BIGINT), 0), 255) AS d
  FROM recon_t),
sums AS (
  SELECT doc_id, plane,
         CAST(64 * SUM(d) AS BIGINT) AS s,
         CAST(64 * SUM(abs(d - v)) AS BIGINT) AS e
  FROM dec GROUP BY 1, 2)
SELECT i.doc_id,
       CAST(32 AS INTEGER) AS width,
       CAST(32 AS INTEGER) AS height,
       CAST(i.ql00 AS INTEGER) AS ql00,
       CAST(i.qc00 AS INTEGER) AS qc00,
       MAX(CASE WHEN s.plane = 'y' THEN s.s END) AS y_sum,
       MAX(CASE WHEN s.plane = 'cb' THEN s.s END) AS cb_sum,
       MAX(CASE WHEN s.plane = 'cr' THEN s.s END) AS cr_sum,
       MAX(CASE WHEN s.plane = 'y' THEN s.e END) AS y_err,
       MAX(CASE WHEN s.plane = 'cb' THEN s.e END) AS cb_err,
       MAX(CASE WHEN s.plane = 'cr' THEN s.e END) AS cr_err
FROM imgs i JOIN sums s USING (doc_id)
GROUP BY 1, 2, 3, 4, 5
""",
    description="4:2:0 COLOR JPEG round-trip parity — the grayscale "
                "stretch extended to the layout virtually every real "
                "JPEG uses: per document, a 32x32 YCbCr fixture encodes "
                "through the full interleaved baseline pipeline (per "
                "16x16 MCU: four luma blocks then Cb then Cr; THREE "
                "independent differential-DC predictor chains; luma "
                "quantized by Annex K.1, chroma by K.2 — two tables in "
                "the DQT stream) and decodes back through the genuine "
                "inverse. Emits the parsed header (the two scaled DC "
                "quantizers ql00/qc00 in {32,16,8}/{34,17,9} as the "
                "quality fingerprint) plus per-plane decoded sums and "
                "abs errors: the chroma table's coarser steps make "
                "cb_err/cr_err systematically exceed y_err at equal "
                "quality — the subsampled-chroma quality trade "
                "quantified, and every value replayed closed-form by "
                "the oracle (one wrong bit in any predictor chain "
                "shifts a sum). Arrow-batched mapInPandas behind one "
                "id balancing exchange; per-doc constant cost like the grayscale "
                "entry.",
    tags=("llm", "multimodal", "fingerprint"),
)
def image_jpeg420_planes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.image_jpeg420_features(docs)


# --------------------------------------------------------------------------
# BPE tokenizer training (r12 VERDICT item 3b)
# --------------------------------------------------------------------------

#: Number of BPE merges to learn. The training loop is the classic
#: word-level algorithm (Sennrich et al. 2016): pre-tokenize the corpus
#: into a (word, freq) type table ONCE — the only corpus-scale pass —
#: then each merge step counts adjacent symbol pairs over the word TYPES
#: weighted by freq, picks the argmax, and rewrites the types. At 100 TB
#: the type table is bounded by vocabulary (tens of millions of rows, not
#: trillions of tokens), so every iteration is one small groupBy + one
#: broadcast-applied rewrite — exactly how production distributed BPE
#: trainers scale.
BPE_MERGES = 8


def _bpe_word_sql() -> str:
    """The wrapped symbol-sequence form of each word type: every symbol
    individually parenthesized, '_' as the end-of-word symbol —
    '(h)(e)(l)(l)(o)(_)'. Parens never occur inside symbols (normalized
    text is [a-z0-9 ]), so string replace of '(L)(R)' with '(LR)' is
    EXACTLY greedy left-to-right non-overlapping BPE merge application,
    with identical semantics in Spark and DuckDB."""
    return ("'(' || array_to_string(list_transform(range(1, length(w) + 1), "
            "i -> substr(w, i, 1)), ')(') || ')(_)'")


def _bpe_oracle_sql(n_merges: int) -> str:
    """Unrolled WITH-chain replay of the merge loop: SQL cannot iterate,
    but a FIXED merge count unrolls to straight-line CTEs — one
    pair-count + argmax + rewrite block per step."""
    parts = [f"""
WITH w0 AS (
  SELECT {_bpe_word_sql()} AS s, freq FROM (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY w)
)"""]
    for k in range(1, n_merges + 1):
        parts.append(f""",
pc{k} AS (
  SELECT p['l'] AS lhs, p['r'] AS rhs, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> {{'l': t[i], 'r': t[i + 1]}})) AS p, freq
    FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS t, freq
          FROM w{k - 1}))
  GROUP BY 1, 2
),
best{k} AS (
  SELECT lhs, rhs, pair_count FROM pc{k}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
w{k} AS (
  SELECT replace(s, '(' || lhs || ')(' || rhs || ')',
                 '(' || lhs || rhs || ')') AS s, freq
  FROM w{k - 1}, best{k}
)""")
    steps = [f"SELECT CAST({k} AS INTEGER) AS step, lhs, rhs, "
             f"lhs || rhs AS merged, pair_count FROM best{k}"
             for k in range(1, n_merges + 1)]
    parts.append("\n" + "\nUNION ALL\n".join(steps))
    return "".join(parts)


@register(
    "bpe_tokenizer_train",
    oracle=_bpe_oracle_sql(BPE_MERGES),
    description=f"BPE tokenizer training, {BPE_MERGES} merges: classic "
                "word-level byte-pair encoding (Sennrich 2016) — ONE "
                "corpus-scale pass builds the (word, freq) type table, "
                "then each merge counts adjacent symbol pairs over word "
                "TYPES weighted by freq (ties: count desc, pair lexical), "
                "picks the argmax, and rewrites types via string replace "
                "on the paren-wrapped symbol form, which IS greedy "
                "non-overlapping merge application. Emits the learned "
                "merge table (step, lhs, rhs, merged, pair_count). The "
                "oracle unrolls the same loop as straight-line CTEs. "
                "Scale: iterations touch only the vocabulary-bounded "
                "type table (one small groupBy + a broadcast 1-row "
                "rewrite each); the trillion-token corpus is read once. "
                "Eager builder: each step localCheckpoints the rewritten "
                "types, so lineage stays O(1) per step instead of "
                "doubling.",
    tags=("llm", "text", "tokenizer"),
)
def bpe_tokenizer_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(T.normalized_text("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    words = toks.groupBy("w").agg(F.count("*").cast("long").alias("freq"))
    wrapped = words.select(
        F.concat(
            F.lit("("),
            F.concat_ws(")(", F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)))),
            F.lit(")(_)"),
        ).alias("s"),
        "freq",
    ).localCheckpoint(eager=True)

    cur, merge_frames = wrapped, []
    for step in range(1, BPE_MERGES + 1):
        # Words fully merged to ONE symbol contribute no pairs — and must
        # be filtered BEFORE the index sequence: Spark's sequence(1, 0)
        # is a DESCENDING [1, 0] (not empty like DuckDB's end-exclusive
        # range), so an unguarded transform would element_at past the
        # 1-element array under ANSI mode (hypothesis-found edge).
        split_toks = cur.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"),
                    r"\)\(").alias("t"),
            "freq").where(F.size("t") >= 2)
        pairs = split_toks.select(
            F.explode(F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("lhs"),
                    F.element_at("t", i + F.lit(1)).alias("rhs")),
            )).alias("p"),
            "freq")
        counts = (pairs.select("p.lhs", "p.rhs", "freq")
                  .groupBy("lhs", "rhs")
                  .agg(F.sum("freq").cast("long").alias("pair_count")))
        best = (counts.orderBy(F.desc("pair_count"), "lhs", "rhs").limit(1)
                .localCheckpoint(eager=True))
        merge_frames.append(best.select(
            F.lit(step).cast("int").alias("step"),
            "lhs", "rhs",
            F.concat("lhs", "rhs").alias("merged"),
            "pair_count"))
        cur = (cur.crossJoin(F.broadcast(best))
               .select(
                   F.replace(
                       "s",
                       F.concat(F.lit("("), F.col("lhs"), F.lit(")("),
                                F.col("rhs"), F.lit(")")),
                       F.concat(F.lit("("), F.col("lhs"), F.col("rhs"),
                                F.lit(")"))).alias("s"),
                   "freq")
               .localCheckpoint(eager=True))
    return functools.reduce(lambda a, b: a.unionByName(b), merge_frames)


# --------------------------------------------------------------------
# Maintained-index persistence family: the serving-restart /
# continuous-ingest contracts for the three maintained indexes (IVF
# embedding cells, MinHash-LSH near-dup bands, BM25 postings). Index
# primitives live in operators/ (shared with the streaming maintainers,
# which must not import the plans layer); scratch-root hygiene in
# operators/scratch.py.

import os  # noqa: E402

from windowsession_using_kafka_flink_docker_spark.operators.bm25_index import (  # noqa: E402
    BM25_B as _BM_B,
    BM25_K1 as _BM_K1,
    bm25_from_index,
    bm25_index_append,
    bm25_index_export,
)
from windowsession_using_kafka_flink_docker_spark.operators.neardup_index import (  # noqa: E402
    MH_BANDS as _MH_BANDS,
    MH_CAP as _MH_CAP,
    MH_HASHES as _MH_HASHES,
    MH_ROWS as _MH_ROWS,
    MH_THRESHOLD as _MH_THRESHOLD,
    neardup_index_append,
    neardup_index_probe,
)
from windowsession_using_kafka_flink_docker_spark.operators.scratch import (  # noqa: E402
    drop_export,
    scratch_root,
)
from windowsession_using_kafka_flink_docker_spark.operators.similarity import (  # noqa: E402
    ivf_export,
    ivf_import,
)


def _export_dir(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Per-(app, corpus) export location outside the repo."""
    leaf = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(scratch_root(spark), f"{prefix}_{leaf}")


@register(
    "ivf_index_persist_roundtrip",
    oracle="""
SELECT CAST(10 AS BIGINT) AS n_queries,
       CAST(100 AS BIGINT) AS exact_pairs,
       CAST(100 AS BIGINT) AS persisted_hits,
       CAST(100 AS BIGINT) AS fresh_persisted_agree
""",
    description="IVF index exported to parquet (KB centroids + "
                "cell-partitioned assignments), re-imported, probed with "
                "nprobe == n_cells: must equal the exact cosine scan AND "
                "the fresh index pair-for-pair — the serving-restart "
                "contract (recovery re-reads the index, never retrains "
                "the quantizer).",
    tags=("llm", "similarity", "ann", "persistence"),
)
def ivf_index_persist_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Export -> import -> probe with nprobe == n_cells: the persisted
    index must reproduce BOTH the exact cosine scan (the
    ivf_recall_vs_exact identity) and the fresh never-persisted index,
    pair for pair. Emitted as one scalar row against a pinned oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=10).select("query_id", "match_id")

    fresh_index = S.ivf_build(emb, n_cells=16, seed=42)
    path = _export_dir(spark, sf_dir, "ivf")
    ivf_export(fresh_index, spark, path)
    restored = ivf_import(spark, path)

    fresh = (S.ivf_cosine_topk(None, q, k=10, nprobe=16, index=fresh_index)
             .select("query_id", "match_id"))
    persisted = (S.ivf_cosine_topk(None, q, k=10, nprobe=16, index=restored)
                 .select("query_id", "match_id")
                 .withColumn("_hit", F.lit(1)))
    agree = fresh.join(persisted.drop("_hit"), ["query_id", "match_id"],
                       "left_semi").count()
    out = (exact.join(persisted, ["query_id", "match_id"], "left")
           .agg(F.countDistinct("query_id").alias("n_queries"),
                F.count(F.lit(1)).alias("exact_pairs"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long")
                .alias("persisted_hits"))
           .withColumn("fresh_persisted_agree",
                       F.lit(agree).cast("long"))
           .localCheckpoint(eager=True))  # 1 row — frees the export
    drop_export(path)
    return out


#: ~10% of docs arrive as the near-dup delta batch.
_DELTA_MOD, _DELTA_OFF = 10, 7


def neardup_index_export(spark: SparkSession, corpus: DataFrame,
                         path: str) -> None:
    """Build the corpus near-dup index as increment 0 (see
    operators/neardup_index.py for the layout and guard contract)."""
    neardup_index_append(spark, corpus, path, inc=0)


def _nd_perm_values() -> str:
    return ",\n    ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(D._perm_params(_MH_HASHES)))


def _nd_oracle() -> str:
    # The full-corpus portable pipeline (identical CTE text to the
    # minhash_recall_vs_exact oracle through the verification step),
    # restricted to pairs with >= 1 delta member — closed-form proof
    # that the persisted-index probe equals from-scratch.
    return f"""
WITH docs AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, GREATEST(len(toks) - 2, 1) + 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
           )
         ) AS sh
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents)
),
perms(j, a, b) AS (VALUES
    {_nd_perm_values()}
),
bh AS (
  SELECT doc_id,
         list_transform(sh, s ->
           ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647) AS hs
  FROM docs),
ex AS (SELECT doc_id, unnest(hs) AS h FROM bh),
pm AS (
  SELECT doc_id, j, MIN((a * h + b) % 2147483647) AS m
  FROM ex CROSS JOIN perms GROUP BY doc_id, j),
sg AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM pm GROUP BY doc_id),
bd AS (
  SELECT doc_id, b,
         md5(array_to_string(
           list_transform(list_slice(sig, b*{_MH_ROWS} + 1, b*{_MH_ROWS} + {_MH_ROWS}),
                          x -> CAST(x AS VARCHAR)), ',')) AS bkey
  FROM sg CROSS JOIN (SELECT unnest(range({_MH_BANDS})) AS b)),
capped AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY b, bkey) AS _bsz FROM bd)
  WHERE _bsz <= {_MH_CAP}),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM capped x JOIN capped y ON x.b = y.b AND x.bkey = y.bkey
  WHERE x.doc_id < y.doc_id),
pairs AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(da.sh, db.sh)) AS i,
         len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS u
  FROM cand c JOIN docs da ON da.doc_id = c.id_a
              JOIN docs db ON db.doc_id = c.id_b)
SELECT id_a, id_b,
       CASE WHEN u = 0 THEN 1.0 ELSE ROUND(i / u, 4) END AS jaccard,
       (id_a % {_DELTA_MOD} = {_DELTA_OFF})
         <> (id_b % {_DELTA_MOD} = {_DELTA_OFF}) AS is_cross
FROM pairs
WHERE (CASE WHEN u = 0 THEN 1.0 ELSE ROUND(i / u, 4) END) >= {_MH_THRESHOLD}
  AND (id_a % {_DELTA_MOD} = {_DELTA_OFF}
       OR id_b % {_DELTA_MOD} = {_DELTA_OFF})
"""


@register(
    "incremental_neardup_probe",
    oracle=_nd_oracle(),
    description="Continuous dedup: the corpus MinHash-LSH index persisted "
                "to parquet (band tables partitioned by band_id, "
                "per-bucket counts, shingle store), probed by a ~10% delta "
                "batch whose signatures alone are computed; the bucket cap "
                "combines index + delta counts so pruning matches a "
                "from-scratch run exactly. Oracle: the full portable md5 "
                "pipeline closed-form, restricted to delta-involving pairs "
                "— incremental must equal from-scratch, the dedup twin of "
                "incremental_session_merge.",
    tags=("llm", "dedup", "minhash", "incremental", "persistence"),
)
def incremental_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the corpus index (doc_id % 10 != 7), persist it, probe it
    with the delta (doc_id % 10 == 7): the result must equal the
    from-scratch full-corpus MinHash-LSH run restricted to pairs with
    at least one delta member — which is exactly what the oracle
    computes closed-form (same portable md5 pipeline, same combined
    bucket-cap arithmetic, same exact-Jaccard verification)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % _DELTA_MOD != _DELTA_OFF)
    delta = docs.where(F.col("doc_id") % _DELTA_MOD == _DELTA_OFF)
    path = _export_dir(spark, sf_dir, "ndidx")
    neardup_index_export(spark, corpus, path)
    out = neardup_index_probe(spark, path, delta)  # eager checkpoint
    drop_export(path)
    return out


#: ~12.5% of docs arrive late as the BM25 delta increment.
_BM_DELTA_MOD, _BM_DELTA_OFF = 8, 5
_BM_TERMS = ("merge", "window", "hash")
_BM_K = 10


def _bm25_serving_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id, len(t) AS dl, t
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents)
),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM base),
tf AS (
  SELECT doc_id, dl, s AS tok, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(t) AS s FROM base)
  WHERE s IN ({terms})
  GROUP BY 1, 2, 3
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id,
         SUM( ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * ({_BM_K1} + 1) / (tf.tf + {_BM_K1} * (1 - {_BM_B} + {_BM_B} * tf.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dft USING (tok) CROSS JOIN stats
  GROUP BY doc_id
)
SELECT doc_id, ROUND(s, 4) AS bm25
FROM scored
ORDER BY ROUND(s, 4) DESC, doc_id
LIMIT {_BM_K}
"""


@register(
    "incremental_bm25_search",
    oracle=_bm25_serving_oracle(),
    description="Index-backed BM25 serving: the postings index (ALL "
                "tokens, partitioned by token-hash bucket) persisted from "
                "the corpus, a ~12.5% delta batch appended as its own "
                "doc-only increment (corpus never re-tokenized), then "
                "query {merge, window, hash} scored from the INDEX ALONE "
                "— postings reads prune to <= |q| bucket directories, no "
                "document text touched at query time. Oracle: the "
                "from-scratch single-pass BM25 over all documents; the "
                "increment must be invisible in the result. Third leg of "
                "the maintained-index family (session store, LSH near-dup "
                "index, BM25 postings).",
    tags=("llm", "text", "retrieval", "incremental", "persistence"),
)
def incremental_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus index (doc_id % 8 != 5) built and persisted, the delta's
    increment appended doc-only, then the query scored from the merged
    index — must equal the from-scratch BM25 over all documents (see
    operators/bm25_index.py for the pruning contract and torn-index
    guard)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % _BM_DELTA_MOD != _BM_DELTA_OFF)
    delta = docs.where(F.col("doc_id") % _BM_DELTA_MOD == _BM_DELTA_OFF)
    path = _export_dir(spark, sf_dir, "bm25")
    bm25_index_export(spark, corpus, path)
    bm25_index_append(spark, path, delta)
    out = bm25_from_index(spark, path, _BM_TERMS,
                          _BM_K).localCheckpoint(eager=True)  # k rows
    drop_export(path)
    return out


_SEM_QUERY_VEC = 0   # the query document (vec_id == doc_id alignment)
_SEM_TERMS = ("spark", "stream", "join")


def _semantic_rrf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _SEM_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id, len(t) AS dl, t
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents)
),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM base),
tf AS (
  SELECT doc_id, dl, s AS tok, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(t) AS s FROM base)
  WHERE s IN ({terms})
  GROUP BY 1, 2, 3
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id,
         SUM( ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dft USING (tok) CROSS JOIN stats
  GROUP BY doc_id
),
bm25_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY ROUND(s, 4) DESC, doc_id)
         AS r_bm25
  FROM scored
  QUALIFY r_bm25 <= 50
),
sem AS (
  SELECT c.vec_id AS doc_id,
         ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv), 4) AS cosine
  FROM embeddings c,
       (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        WHERE vec_id = {_SEM_QUERY_VEC}) q
  WHERE c.vec_id <> {_SEM_QUERY_VEC}
),
sem_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_sem
  FROM sem
  QUALIFY r_sem <= 50
),
fused AS (
  SELECT COALESCE(b.doc_id, s.doc_id) AS doc_id, b.r_bm25, s.r_sem,
         COALESCE(1.0 / (60 + b.r_bm25), 0.0)
           + COALESCE(1.0 / (60 + s.r_sem), 0.0) AS rrf
  FROM bm25_rank b FULL OUTER JOIN sem_rank s USING (doc_id)
)
SELECT doc_id, r_bm25, r_sem,
       CAST(floor(rrf * 1000000000) AS BIGINT) AS rrf_e9,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= 10
"""


@register(
    "semantic_rrf_hybrid_search",
    oracle=_semantic_rrf_oracle(),
    description="Lexical+semantic hybrid search via reciprocal-rank "
                "fusion: BM25 top-50 for {spark, stream, join} fused with "
                "the exact-cosine top-50 around the query document's "
                "embedding (vec_id == doc_id alignment), score = sum "
                "1/(60 + rank) added in fixed order. The semantic leg "
                "broadcasts one query vector and scores scan-side (the "
                "corpus never shuffles); the fusion is a 50x50 broadcast "
                "join and the top-10 a TakeOrderedAndProject.",
    tags=("llm", "retrieval", "similarity", "topk"),
)
def semantic_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production RRF shape (rrf_hybrid_search fuses two lexical
    legs; this adds the embedding leg the testdata's vec_id == doc_id
    alignment enables): the BM25 top-50 for the query terms fuses with
    the exact-cosine top-50 around the query document's embedding via
    reciprocal rank, score = sum 1/(60 + rank).

    Determinism: both legs rank by their ROUND(score, 4) with doc_id
    tiebreaks (the entries' established engine-stable recipe); the
    fused score adds at most two 1/(60+rank) doubles in a fixed order
    (bm25 first), so both engines compute the identical IEEE value.
    Scale: the semantic leg broadcasts ONE query vector and scores
    corpus-scan-side (cosine_topk's plan — the corpus never shuffles);
    both legs are 50 rows after their own cuts, so the fusion join is
    broadcast-sized and the final top-10 is a TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    w_b = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    bm25 = (T.bm25_topk(docs, _SEM_TERMS, k=50)
            .select("doc_id", "bm25")
            .withColumn("r_bm25", F.row_number().over(w_b).cast("long"))
            .select("doc_id", "r_bm25"))
    sem = (S.cosine_topk(emb, emb.where(F.col("vec_id") == _SEM_QUERY_VEC),
                         k=50)
           .select(F.col("match_id").alias("doc_id"),
                   F.col("rnk").cast("long").alias("r_sem")))
    fused = (bm25.join(sem, "doc_id", "full_outer")
             .select("doc_id", "r_bm25", "r_sem",
                     (F.coalesce(1.0 / (60 + F.col("r_bm25")), F.lit(0.0))
                      + F.coalesce(1.0 / (60 + F.col("r_sem")),
                                   F.lit(0.0))).alias("rrf")))
    w_f = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (fused
            .withColumn("fused_rank",
                        F.row_number().over(w_f).cast("long"))
            .where(F.col("fused_rank") <= 10)
            .select("doc_id", "r_bm25", "r_sem",
                    F.floor(F.col("rrf") * 1000000000).cast("long")
                    .alias("rrf_e9"),
                    "fused_rank"))
