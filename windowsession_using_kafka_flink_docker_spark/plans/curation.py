"""Data-curation queries for LLM training pipelines: boilerplate removal,
Gopher-style quality gating, deterministic stratified sampling, int8
embedding quantization.

These extend the north-star surface (SURVEY.md §2.11) with the curation
passes that sit between raw crawl and training shards in production
pipelines (CCNet-style repeated-span removal, Gopher's rule-based quality
filters, per-language mixture sampling, storage-side vector quantization).
Every query is a pure DataFrame plan with a DuckDB oracle; float outputs
are rounded on both sides, digests are md5 (identical hex in both
engines).

Scale notes per query are on the registrations; the common discipline:
shuffles carry hashes/ids, never document payloads, and every
data-dependent small set (the boilerplate list) is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators import packing
from windowsession_using_kafka_flink_docker_spark.plans.catalog import register
from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import _TOKC_SQL
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

# --------------------------------------------------------------------------
# Boilerplate sentence removal (CCNet-style repeated-span dedup)
# --------------------------------------------------------------------------

#: A sentence appearing in at least this many documents is boilerplate.
BOILERPLATE_MIN_DOCS = 10

#: The synthetic corpus is one period-free word soup per document, so the
#: catalog query PLANTS deterministic boilerplate footers (the
#: embedding_neardups / pii_redaction non-vacuity lesson): every 3rd doc
#: gets a "subscribe" footer, every 4th a "rights" footer — deterministic
#: functions of doc_id in BOTH engines, so removal is provable.
_FOOTER_SUBSCRIBE = "subscribe to our newsletter today"
_FOOTER_RIGHTS = "all rights reserved 2024"

_PLANT_SQL = (
    "text"
    f" || CASE WHEN doc_id % 3 = 0 THEN '. {_FOOTER_SUBSCRIBE}' ELSE '' END"
    f" || CASE WHEN doc_id % 4 = 0 THEN '. {_FOOTER_RIGHTS}' ELSE '' END"
)


def _planted_text() -> F.Column:
    return F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(f". {_FOOTER_SUBSCRIBE}")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit(f". {_FOOTER_RIGHTS}")).otherwise(F.lit("")),
    )


def boilerplate_removal(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        min_docs: int = BOILERPLATE_MIN_DOCS) -> DataFrame:
    """Remove sentences that repeat across >= ``min_docs`` documents
    (subscription footers, legal lines — the CCNet repeated-span pass).

    Returns (doc_id, n_sentences, n_removed, clean_digest) where
    clean_digest is md5 of the kept sentences rejoined in original order.

    Scale design: sentences explode once with their md5; document frequency
    and the anti-join both run on the 32-hex hash, so the two shuffles
    carry (doc_id, pos, hash) — never the sentence text twice; the
    boilerplate list (sentences with df >= min_docs) is tiny by definition
    and broadcasts.
    """
    sents = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), r"\. ")).alias("_pos", "_s"),
        )
        .withColumn("_h", F.md5(F.col("_s")))
    )
    boiler = (
        sents.groupBy("_h")
        .agg(F.count_distinct("_id").alias("_df"))
        .where(F.col("_df") >= min_docs)
        .select("_h")
    )
    kept = sents.join(F.broadcast(boiler), "_h", "left_anti")
    n_total = sents.groupBy("_id").agg(F.count("*").alias("n_sentences"))
    clean = (
        kept.groupBy("_id")
        .agg(
            F.count("*").alias("_n_kept"),
            F.md5(
                F.concat_ws(
                    ". ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_pos", "_s"))),
                        lambda x: x["_s"],
                    ),
                )
            ).alias("clean_digest"),
        )
    )
    return (
        n_total.join(clean, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_sentences",
            (F.col("n_sentences") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .alias("n_removed"),
            # a doc that was ALL boilerplate keeps the digest of ""
            F.coalesce(F.col("clean_digest"), F.md5(F.lit(""))).alias("clean_digest"),
        )
    )


@register(
    "boilerplate_removal",
    oracle=f"""
WITH planted AS (
  SELECT doc_id, {_PLANT_SQL} AS text
  FROM documents
),
sents AS (
  SELECT doc_id, u['pos'] AS pos, u['sent'] AS sent, md5(u['sent']) AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(text, '. '),
                                 (s, i) -> {{'pos': i, 'sent': s}})) AS u
    FROM planted
  )
),
boiler AS (
  SELECT h FROM sents GROUP BY h HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
),
kept AS (
  SELECT * FROM sents WHERE h NOT IN (SELECT h FROM boiler)
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_sentences FROM sents GROUP BY doc_id
),
clean AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(sent, '. ' ORDER BY pos)) AS clean_digest
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_sentences,
       t.n_sentences - COALESCE(c.n_kept, 0) AS n_removed,
       COALESCE(c.clean_digest, md5('')) AS clean_digest
FROM totals t LEFT JOIN clean c ON t.doc_id = c.doc_id
""",
    description="CCNet-style boilerplate removal: sentences repeating "
                "across >= 10 docs (planted subscribe/rights footers — "
                "non-vacuous by construction) are stripped; df counting "
                "and the anti-join run on sentence md5, the boilerplate "
                "list broadcasts",
    bench=True,
    tags=("llm", "curation", "dedup"),
)
def boilerplate_removal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _planted_text().alias("text")
    )
    return boilerplate_removal(docs)


# --------------------------------------------------------------------------
# Gopher-style rule-based quality gate
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@register(
    "gopher_quality_flags",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
m AS (
  SELECT doc_id, lang,
         len(w) AS n_words,
         ROUND(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w), 4) AS mean_word_len,
         ROUND(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(w), 4) AS alpha_frac,
         ROUND(len(list_filter(w, x -> x = '#' OR x = '...')) * 1.0 / len(w), 4) AS symbol_ratio,
         len(list_distinct(list_filter(w, x -> list_contains({list(_STOPWORDS)!r}, lower(x))))) AS n_stopwords
  FROM toks
)
SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
       alpha_frac, symbol_ratio, CAST(n_stopwords AS BIGINT) AS n_stopwords,
       (n_words BETWEEN 50 AND 100000)
         AND (mean_word_len BETWEEN 3 AND 10)
         AND (alpha_frac > 0.8)
         AND (symbol_ratio < 0.1)
         AND (n_stopwords >= 2) AS keep
FROM m
""",
    description="Gopher-style rule-based quality gate: word count in "
                "[50, 100k], mean word length in [3, 10], alpha-word "
                "fraction > 0.8, symbol ratio < 0.1, >= 2 distinct "
                "stopwords. Pure scan-side expressions — zero shuffle; "
                "the per-document cost is O(tokens)",
    tags=("llm", "curation", "quality"),
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.split(F.trim("text"), r"\s+").alias("w")
    )
    n = F.size("w")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    m = toks.select(
        "doc_id", "lang",
        n.cast("long").alias("n_words"),
        F.round(
            F.aggregate("w", F.lit(0), lambda a, x: a + F.length(x)) / n, 4
        ).alias("mean_word_len"),
        F.round(
            F.size(F.filter("w", lambda x: x.rlike("[a-zA-Z]"))) / n, 4
        ).alias("alpha_frac"),
        F.round(
            F.size(F.filter("w", lambda x: (x == "#") | (x == "..."))) / n, 4
        ).alias("symbol_ratio"),
        F.size(
            F.array_distinct(
                F.filter("w", lambda x: F.array_contains(stop_arr, F.lower(x)))
            )
        ).cast("long").alias("n_stopwords"),
    )
    return m.select(
        "*",
        (
            F.col("n_words").between(50, 100_000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_frac") > 0.8)
            & (F.col("symbol_ratio") < 0.1)
            & (F.col("n_stopwords") >= 2)
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# Deterministic per-language stratified sampling (mixture weights)
# --------------------------------------------------------------------------

#: Per-language sampling rates (the training-mixture knob); en is the
#: majority class and is downsampled hardest.
SAMPLE_RATES = {"en": 0.5, "zh": 1.0, "es": 0.8, "fr": 0.8, "de": 0.8}

#: Unknown languages default to this rate.
DEFAULT_RATE = 0.25


def _hex_threshold(rate: float) -> str:
    """8-hex-digit threshold such that a uniform md5 prefix is < threshold
    with probability ``rate``. Comparing lowercase hex strings is monotone
    in the underlying 32-bit value, so the SAME string comparison works in
    any engine with md5 — no hex-to-int support needed."""
    return format(min(int(rate * (1 << 32)), (1 << 32) - 1), "08x")


def stratified_sample(docs: DataFrame, rates: dict[str, float] = None,
                      default_rate: float = DEFAULT_RATE,
                      id_col: str = "doc_id", strat_col: str = "lang") -> DataFrame:
    """Deterministic hash-based stratified sample: keep a row iff the first
    8 hex chars of md5(id) fall below the stratum's threshold.

    Content-hash sampling (never ``rand()``): the same document set is
    selected on every run, every engine, every retry — reproducible
    training mixtures, and downstream joins on the sample are stable.
    Scan-side filter, zero shuffle; at 100 TB this is a pushed-down
    predicate over the id column only.
    """
    rates = SAMPLE_RATES if rates is None else rates
    thresh = F.lit(_hex_threshold(default_rate))
    for lang, rate in rates.items():
        thresh = F.when(F.col(strat_col) == lang, F.lit(_hex_threshold(rate))).otherwise(thresh)
    u = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    return docs.where(u < thresh).select(id_col, strat_col)


@register(
    "stratified_sample",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang
        {' '.join(f"WHEN '{lang}' THEN '{_hex_threshold(r)}'" for lang, r in SAMPLE_RATES.items())}
        ELSE '{_hex_threshold(DEFAULT_RATE)}'
      END
""",
    description="Deterministic per-language stratified sampling via md5 "
                "prefix thresholds (training-mixture weights): identical "
                "selection on every run/engine/retry, zero shuffle, "
                "filter pushes to the scan",
    tags=("llm", "curation", "sampling"),
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_sample(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Int8 embedding quantization (storage-side compression)
# --------------------------------------------------------------------------

@register(
    "embedding_quantize_int8",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM v
),
q AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
              ELSE list_transform(e, x -> CAST(round(x / scale, 0) AS BIGINT))
         END AS qv,
         e
  FROM s
)
SELECT vec_id,
       ROUND(scale, 6) AS scale_r,
       CAST(list_sum(qv) AS BIGINT) AS q_checksum,
       ROUND(list_max(list_transform(list_zip(e, qv),
                                     p -> abs(p[1] - p[2] * scale))), 4) AS max_abs_err
FROM q
""",
    description="Int8 symmetric max-abs quantization of the embedding "
                "column (4x storage cut for ANN candidate sets): per-"
                "vector scale = max|x|/127, q = round(x/scale). Pure "
                "scan-side array expressions; the reconstruction-error "
                "bound (<= scale/2) is asserted by pytest",
    tags=("llm", "embedding", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    s = emb.select(
        "vec_id", e.alias("e"),
        (F.array_max(F.transform(e, F.abs)) / 127.0).alias("scale"),
    )
    q = s.withColumn(
        "qv",
        F.when(
            F.col("scale") == 0,
            F.transform("e", lambda x: F.lit(0).cast("long")),
        ).otherwise(
            F.transform("e", lambda x: F.round(x / F.col("scale"), 0).cast("long"))
        ),
    )
    err = F.array_max(
        F.zip_with("e", "qv", lambda x, qq: F.abs(x - qq * F.col("scale")))
    )
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_checksum"),
        F.round(err, 4).alias("max_abs_err"),
    )


# --------------------------------------------------------------------------
# Eval-set decontamination (n-gram overlap removal)
# --------------------------------------------------------------------------

#: Shingle width for contamination checks (GPT-3's appendix-C method uses
#: 13-gram matches against eval sets; 8 keeps the synthetic word-soup corpus
#: non-degenerate while exercising the identical plan shape).
DECON_NGRAM = 8

#: The held-out "benchmark" split: every 37th document plays the eval set.
_EVAL_MOD = 37

#: Planted leakage (the non-vacuity discipline used across this module):
#: every eval doc carries both passages; every 41st / 53rd TRAIN doc carries
#: one of them, so a known subset of train docs provably shares an 8-gram
#: with the eval set in BOTH engines.
_LEAK1_MOD, _LEAK2_MOD = 41, 53
_LEAK_P1 = "the quick brown fox jumps over lazy dogs"
_LEAK_P2 = "pack my box with five dozen liquor jugs"


def _decon_text() -> F.Column:
    return F.when(
        F.col("doc_id") % _EVAL_MOD == 0,
        F.concat(F.col("text"), F.lit(f" {_LEAK_P1} {_LEAK_P2}")),
    ).otherwise(
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % _LEAK1_MOD == 0, F.lit(f" {_LEAK_P1}")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % _LEAK2_MOD == 0, F.lit(f" {_LEAK_P2}")).otherwise(F.lit("")),
        )
    )


def _gram_rows(docs: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(_id, _h) rows: md5 of every word n-gram of every document.

    The position sequence explodes FIRST and the gram materializes per row
    (slice + concat + md5) — never explode over a higher-order-function
    array (the winnowing lesson: Generate re-evaluates the un-materialized
    HOF tree per output row)."""
    return (
        docs.select(
            F.col(id_col).alias("_id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"),
        )
        .where(F.size("_w") >= n)
        .select(
            "_id",
            F.explode(F.sequence(F.lit(0), F.size("_w") - F.lit(n))).alias("_i"),
            "_w",
        )
        .select(
            "_id",
            F.md5(F.concat_ws(" ", F.slice("_w", F.col("_i") + 1, n))).alias("_h"),
        )
    )


def decontaminate(train: DataFrame, eval_docs: DataFrame, n: int = DECON_NGRAM,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Flag training documents that share any word ``n``-gram with a held-out
    eval set (test-set leakage removal, the GPT-3 appendix-C pass).

    Returns one row per train doc: (doc_id, n_gram_hits, contaminated),
    where n_gram_hits counts DISTINCT eval n-grams present in the doc.

    Scale design: the eval set is small by definition (benchmarks are
    thousands of docs, not billions), so its distinct gram hashes broadcast
    and the train side never shuffles for the probe — grams stream off the
    scan through a broadcast-hash semi-join; only matching (doc_id, hash)
    pairs reach the count-distinct shuffle. Shuffles carry 32-hex hashes,
    never text.
    """
    eval_grams = _gram_rows(eval_docs, n, text_col, id_col).select("_h").distinct()
    hits = (
        _gram_rows(train, n, text_col, id_col)
        .join(F.broadcast(eval_grams), "_h")
        .groupBy("_id")
        .agg(F.count_distinct("_h").alias("n_gram_hits"))
    )
    return (
        train.select(F.col(id_col).alias("_id"))
        .join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_gram_hits", F.lit(0)).cast("long").alias("n_gram_hits"),
            (F.coalesce("n_gram_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@register(
    "decontaminate_train_set",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_EVAL_MOD} = 0
              THEN text || ' {_LEAK_P1} {_LEAK_P2}'
              ELSE text
                || CASE WHEN doc_id % {_LEAK1_MOD} = 0 THEN ' {_LEAK_P1}' ELSE '' END
                || CASE WHEN doc_id % {_LEAK2_MOD} = 0 THEN ' {_LEAK_P2}' ELSE '' END
         END AS text,
         doc_id % {_EVAL_MOD} = 0 AS is_eval
  FROM documents
),
toks AS (
  SELECT doc_id, is_eval, string_split_regex(trim(text), '\\s+') AS w FROM base
),
grams AS (
  SELECT doc_id, is_eval,
         unnest(list_transform(range(len(w) - {DECON_NGRAM - 1}),
                               i -> md5(array_to_string(w[i+1:i+{DECON_NGRAM}], ' ')))) AS h
  FROM toks
),
ev AS (SELECT DISTINCT h FROM grams WHERE is_eval),
hits AS (
  SELECT g.doc_id, COUNT(DISTINCT g.h) AS n_gram_hits
  FROM grams g JOIN ev USING (h)
  WHERE NOT g.is_eval
  GROUP BY g.doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(h.n_gram_hits, 0) AS BIGINT) AS n_gram_hits,
       COALESCE(h.n_gram_hits, 0) > 0 AS contaminated
FROM base b LEFT JOIN hits h USING (doc_id)
WHERE NOT b.is_eval
""",
    description="Test-set decontamination: train docs sharing any word "
                f"{DECON_NGRAM}-gram with the held-out eval split (every "
                f"{_EVAL_MOD}th doc) are flagged; leakage is planted on "
                f"every {_LEAK1_MOD}th/{_LEAK2_MOD}th train doc so hits "
                "are non-vacuous by construction. Eval gram hashes "
                "broadcast; the probe is a scan-side broadcast semi-join",
    bench=True,
    tags=("llm", "curation", "decontamination"),
)
def decontaminate_train_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _decon_text().alias("text")
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    return decontaminate(docs.where(~is_eval), docs.where(is_eval))


# --------------------------------------------------------------------------
# Sequence packing (token-budget training shards)
# --------------------------------------------------------------------------

#: Tokens per packed training sequence (catalog uses a small budget so the
#: sf0.01 corpus yields multiple sequences per shard; production would be
#: 2k-8k).
SEQ_BUDGET = 512

#: Packing shards per language. Packing needs a total order, which is a
#: single reducer per stratum — sharding by a deterministic function of the
#: id bounds each sort to corpus_size / (langs * shards) and parallelizes
#: packing n_shards-wide within every language.
PACK_SHARDS = 4


def pack_sequences(docs: DataFrame, budget: int = SEQ_BUDGET,
                   n_shards: int = PACK_SHARDS, text_col: str = "text",
                   id_col: str = "doc_id", strat_col: str = "lang") -> DataFrame:
    """Assign documents to fixed token-budget training sequences by
    deterministic concat-and-chop packing: within each (stratum, shard),
    docs concatenate in id order and a new sequence starts every ``budget``
    tokens; a doc belongs to the sequence its first token lands in (the
    chop itself happens at shard materialization).

    Returns (lang, shard, seq_id, n_docs, seq_tokens, first_doc, last_doc).

    Scale design: the only shuffle is the window partition on
    (stratum, shard) — n_langs * n_shards independent sorts, each bounded,
    instead of one global order-by. Token counts are scan-side expressions;
    no payload moves, only (id, n_tokens).
    """
    toks = docs.select(
        F.col(strat_col).alias("lang"),
        (F.col(id_col) % n_shards).alias("shard"),
        F.col(id_col).alias("_id"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("lang", "shard").orderBy("_id")
    packed = toks.withColumn("_cum", F.sum("n_tokens").over(w)).withColumn(
        "seq_id", F.floor((F.col("_cum") - F.col("n_tokens")) / budget)
    )
    return packed.groupBy("lang", "shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min("_id").alias("first_doc"),
        F.max("_id").alias("last_doc"),
    )


@register(
    "sequence_packing",
    oracle=f"""
WITH toks AS (
  SELECT lang, doc_id % {PACK_SHARDS} AS shard, doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT lang, shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum
  FROM toks
)
SELECT lang, CAST(shard AS BIGINT) AS shard,
       CAST(FLOOR((cum - n_tokens) / {SEQ_BUDGET}.0) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed
GROUP BY lang, shard, seq_id
""",
    description=f"Token-budget sequence packing ({SEQ_BUDGET} tokens): "
                "deterministic concat-and-chop assignment of docs to "
                f"training sequences, sharded {PACK_SHARDS}-wide per "
                "language so no global sort exists — each (lang, shard) "
                "packs independently in one bounded window sort",
    tags=("llm", "curation", "packing"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Repetition signals (Gopher quality rules, part 2)
# --------------------------------------------------------------------------

def repetition_signals(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition metrics from Gopher's filter set: the
    character mass of the heaviest repeated word 2-gram and of all
    duplicated 3-grams, as fractions of the document's word characters.

    Returns (doc_id, n_words, top2_char_frac, dup3_char_frac).

    top2_char_frac = max over 2-grams of (count * gram_chars) / word_chars
    — the "max character mass" form rather than "chars of the single most
    frequent gram", which is tie-ambiguous across engines.
    dup3_char_frac = sum over 3-grams with count >= 2 of the same mass.

    Scale design: grams explode once per width with md5 + char length; the
    two aggregations shuffle (doc_id, hash, len) — never text. Both
    metrics per doc are one groupBy(doc) away; no self-joins.
    """
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"),
    )
    base = toks.select(
        "_id",
        F.size("_w").cast("long").alias("n_words"),
        F.aggregate("_w", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        .alias("_chars"),
        "_w",
    )

    def gram_mass(n: int, agg_dup_only: bool) -> DataFrame:
        grams = (
            base.where(F.size("_w") >= n)
            .select(
                "_id", "_chars",
                F.explode(F.sequence(F.lit(0), F.size("_w") - F.lit(n))).alias("_i"),
                "_w",
            )
            .select(
                "_id", "_chars",
                F.md5(F.concat_ws(" ", F.slice("_w", F.col("_i") + 1, n))).alias("_h"),
                F.aggregate(
                    F.slice("_w", F.col("_i") + 1, n),
                    F.lit(0).cast("long"), lambda a, x: a + F.length(x)
                ).alias("_glen"),
            )
        )
        counted = grams.groupBy("_id", "_chars", "_h", "_glen").agg(
            F.count("*").alias("_c")
        )
        mass = F.col("_c") * F.col("_glen")
        if agg_dup_only:
            out = counted.where(F.col("_c") >= 2).groupBy("_id").agg(
                (F.sum(mass) / F.first("_chars")).alias("_frac")
            )
        else:
            out = counted.groupBy("_id").agg(
                (F.max(mass) / F.first("_chars")).alias("_frac")
            )
        return out

    top2 = gram_mass(2, agg_dup_only=False).withColumnRenamed("_frac", "_t2")
    dup3 = gram_mass(3, agg_dup_only=True).withColumnRenamed("_frac", "_d3")
    return (
        base.select("_id", "n_words")
        .join(top2, "_id", "left")
        .join(dup3, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_words",
            F.round(F.coalesce("_t2", F.lit(0.0)), 4).alias("top2_char_frac"),
            F.round(F.coalesce("_d3", F.lit(0.0)), 4).alias("dup3_char_frac"),
        )
    )


@register(
    "repetition_signals",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
base AS (
  SELECT doc_id, len(w) AS n_words,
         list_sum(list_transform(w, x -> length(x))) AS chars, w
  FROM toks
),
g2 AS (
  SELECT doc_id, chars,
         unnest(list_transform(range(len(w) - 1),
                               i -> {'h': md5(array_to_string(w[i+1:i+2], ' ')),
                                     'glen': length(w[i+1]) + length(w[i+2])})) AS g
  FROM base WHERE len(w) >= 2
),
c2 AS (
  SELECT doc_id, chars, g['h'] AS h, g['glen'] AS glen, COUNT(*) AS c
  FROM g2 GROUP BY doc_id, chars, g['h'], g['glen']
),
t2 AS (
  SELECT doc_id, MAX(c * glen) * 1.0 / ANY_VALUE(chars) AS t2frac
  FROM c2 GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, chars,
         unnest(list_transform(range(len(w) - 2),
                               i -> {'h': md5(array_to_string(w[i+1:i+3], ' ')),
                                     'glen': length(w[i+1]) + length(w[i+2]) + length(w[i+3])})) AS g
  FROM base WHERE len(w) >= 3
),
c3 AS (
  SELECT doc_id, chars, g['h'] AS h, g['glen'] AS glen, COUNT(*) AS c
  FROM g3 GROUP BY doc_id, chars, g['h'], g['glen']
),
d3 AS (
  SELECT doc_id, SUM(c * glen) * 1.0 / ANY_VALUE(chars) AS d3frac
  FROM c3 WHERE c >= 2 GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
       ROUND(COALESCE(t2.t2frac, 0), 4) AS top2_char_frac,
       ROUND(COALESCE(d3.d3frac, 0), 4) AS dup3_char_frac
FROM base b
LEFT JOIN t2 ON b.doc_id = t2.doc_id
LEFT JOIN d3 ON b.doc_id = d3.doc_id
""",
    description="Gopher repetition filters: max character mass of any "
                "repeated word 2-gram and total mass of duplicated "
                "3-grams, as fractions of word characters. Grams shuffle "
                "as (doc_id, md5, len) only; no self-joins",
    tags=("llm", "curation", "quality"),
)
def repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_signals(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Source-mix report (RefinedWeb-style domain accounting)
# --------------------------------------------------------------------------

@register(
    "source_mix_report",
    oracle="""
WITH per_doc AS (
  SELECT source, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
),
tot AS (SELECT SUM(n_tokens) AS corpus_tokens FROM per_doc),
per_source AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         COUNT(DISTINCT lang) AS n_langs
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, total_tokens, CAST(n_langs AS BIGINT) AS n_langs,
       ROUND(total_tokens * 1.0 / (SELECT corpus_tokens FROM tot), 6) AS token_share
FROM per_source
""",
    description="Per-source corpus accounting (the RefinedWeb-style "
                "domain mix report): doc count, token count, language "
                "spread, and token share of the corpus. One partial-agg "
                "shuffle on source; the corpus total broadcasts back as "
                "a scalar subquery",
    tags=("llm", "curation", "provenance"),
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return source_mix_from_partials(source_mix_partials(docs))


def source_mix_partials(docs: DataFrame) -> DataFrame:
    """Reduce a documents frame (full corpus or one micro-batch) to the
    per-(source, lang) doc/token counts — the mergeable sufficient
    statistic of the mix report (counts sum; state is bounded by
    |sources| x |langs|, not corpus size)."""
    per_doc = docs.select(
        "source", "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long")
        .alias("n_tokens"))
    return per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"))


def source_mix_from_partials(partials: DataFrame) -> DataFrame:
    """Mix report from the (source, lang, n_docs, n_tokens) partials —
    shared by the batch entry and streaming maintainer #13, so stream ==
    batch is one code path. Doc/token counts and the language spread
    derive exactly from the partials (a (source, lang) row exists iff
    that source has >= 1 doc in that lang, so the distinct-language
    count is the count of NON-NULL lang rows — ``F.count("lang")``
    skips a NULL-lang partial row exactly like the oracle's
    ``COUNT(DISTINCT lang)`` does); the share division happens on the
    same exact BIGINTs the fact-level derivation produces."""
    per_source = partials.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count("lang").cast("long").alias("n_langs"))
    corpus_tokens = partials.agg(F.sum("n_tokens").alias("_ct"))
    return (
        per_source.crossJoin(F.broadcast(corpus_tokens))
        .select(
            "source", "n_docs", "total_tokens", "n_langs",
            F.round(F.col("total_tokens") / F.col("_ct"), 6).alias("token_share"),
        )
    )


# --------------------------------------------------------------------------
# End-to-end curation pipeline composition (r12 VERDICT item 3a)
# --------------------------------------------------------------------------

#: The composition plants its own exact-duplicate groups (the corpus has
#: none naturally): every 25th doc (offset 7, eval docs excluded) carries
#: one of _E2E_VARIANTS canonical texts, so the exact stage collapses each
#: group to its min id and the near stage then collapses the variants
#: (cross-variant 3-gram Jaccard ~0.9) down to one — the funnel is
#: non-vacuous at every stage BY CONSTRUCTION, deterministically in both
#: engines. The sentence deliberately shares no word 8-gram with the
#: decon leak phrases, so planted dups are not eaten by the decon stage.
_E2E_DUP_MOD, _E2E_DUP_OFF, _E2E_VARIANTS = 25, 7, 4
_E2E_DUP_SENTENCE = ("we pack these training shards with the finest "
                     "curated tokens and ship them")

#: Gate thresholds: the full Gopher rule set with the distinct-stopword
#: floor tuned to this corpus register (the synthetic word soup carries
#: ~0.8 distinct stopwords per doc, so Gopher's >= 2 would zero the
#: funnel; >= 1 splits it — production pipelines tune exactly this knob
#: per corpus).
_E2E_MIN_STOPWORDS = 1


def _e2e_text() -> F.Column:
    """The pipeline's planted text column: canonical dup variants on the
    %25==7 train docs, the decontamination leak plants everywhere else
    (one expression, replayed verbatim by the oracle)."""
    dup = F.concat(
        F.expr(f"repeat('{_E2E_DUP_SENTENCE} ', 5)"),
        F.lit("variant "),
        (F.col("doc_id") % _E2E_VARIANTS).cast("string"),
    )
    is_dup_plant = ((F.col("doc_id") % _E2E_DUP_MOD == _E2E_DUP_OFF)
                    & (F.col("doc_id") % _EVAL_MOD != 0))
    return F.when(is_dup_plant, dup).otherwise(_decon_text())


@register(
    "curation_pipeline_e2e",
    oracle=f"""
WITH piped AS (
  SELECT doc_id, lang,
    CASE WHEN doc_id % {_E2E_DUP_MOD} = {_E2E_DUP_OFF} AND doc_id % {_EVAL_MOD} <> 0
         THEN repeat('{_E2E_DUP_SENTENCE} ', 5) || 'variant ' || CAST(doc_id % {_E2E_VARIANTS} AS VARCHAR)
         WHEN doc_id % {_EVAL_MOD} = 0 THEN text || ' {_LEAK_P1} {_LEAK_P2}'
         ELSE text
           || CASE WHEN doc_id % {_LEAK1_MOD} = 0 THEN ' {_LEAK_P1}' ELSE '' END
           || CASE WHEN doc_id % {_LEAK2_MOD} = 0 THEN ' {_LEAK_P2}' ELSE '' END
    END AS text,
    doc_id % {_EVAL_MOD} = 0 AS is_eval
  FROM documents
),
toks AS (
  SELECT doc_id, lang, is_eval, text,
         string_split_regex(trim(text), '\\s+') AS w
  FROM piped
),
gated AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, is_eval, text, len(w) AS n_words,
      list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w) AS mwl,
      len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(w) AS af,
      len(list_filter(w, x -> x = '#' OR x = '...')) * 1.0 / len(w) AS sr,
      len(list_distinct(list_filter(w, x -> list_contains({list(_STOPWORDS)!r}, lower(x))))) AS ns
    FROM toks)
  WHERE (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3 AND 10)
    AND af > 0.8 AND sr < 0.1 AND ns >= {_E2E_MIN_STOPWORDS} AND NOT is_eval
),
exact AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated) WHERE rn = 1
),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, GREATEST(len(tk) - 2, 1) + 1),
           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS s
  FROM (SELECT doc_id,
               string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS tk
        FROM exact)
),
inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ns
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (SELECT doc_id, len(s) AS n FROM sh),
near_drop AS (
  SELECT DISTINCT ib AS doc_id
  FROM pairs JOIN sized na ON na.doc_id = ia JOIN sized nb ON nb.doc_id = ib
  WHERE ROUND(ns / (na.n + nb.n - ns), 4) >= 0.5
),
near AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
grams AS (
  SELECT doc_id, is_eval,
         unnest(list_transform(range(len(w) - {DECON_NGRAM - 1}),
                i -> md5(array_to_string(w[i+1:i+{DECON_NGRAM}], ' ')))) AS h
  FROM toks
  WHERE is_eval OR doc_id IN (SELECT doc_id FROM near)
),
ev AS (SELECT DISTINCT h FROM grams WHERE is_eval),
contam AS (
  SELECT DISTINCT g.doc_id FROM grams g JOIN ev USING (h) WHERE NOT g.is_eval
),
survivors AS (
  SELECT * FROM near WHERE doc_id NOT IN (SELECT doc_id FROM contam)
),
ptoks AS (
  SELECT lang, doc_id % {PACK_SHARDS} AS shard, doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM survivors
),
packed AS (
  SELECT lang, shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum
  FROM ptoks
)
SELECT lang, CAST(shard AS BIGINT) AS shard,
       CAST(FLOOR((cum - n_tokens) / {SEQ_BUDGET}.0) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed
GROUP BY lang, shard, seq_id
""",
    description="END-TO-END curation composition — the full "
                "raw-crawl-to-training-shards funnel as ONE plan, every "
                "stage reusing the per-stage entries' own code: Gopher "
                "quality gate (stopword floor tuned to the corpus "
                "register) -> exact md5 dedup (min-id survivor) -> exact "
                "word-3-gram Jaccard near-dedup via the prefix-filtered "
                "set-similarity join (drop the larger id of any pair "
                ">= 0.5) -> 8-gram test-set decontamination against the "
                "planted eval split -> token-budget sequence packing of "
                "the survivors. Planted dup variants + leak phrases make "
                "every stage provably non-vacuous; the oracle replays "
                "the whole funnel closed-form. Scale: each stage keeps "
                "its own entry's shape — gate is scan-side, dedup "
                "shuffles digests not payloads, the ssjoin indexes only "
                "prefix shingles, eval grams broadcast, packing sorts "
                "per (lang, shard). Composition cost is ONE corpus scan "
                "total (r15 rewrite of the original 8-scan funnel): the "
                "synthesized corpus is localCheckpointed right after the "
                "scan and every stage — gate, exact dedup, ssjoin "
                "near-dedup, decontamination, packing — derives from the "
                "materialized blocks, with the three id-list boundaries "
                "checkpointed too so the final plan is shallow joins over "
                "one in-memory corpus plus key-sized intermediates.",
    tags=("llm", "curation", "dedup", "decontamination", "packing"),
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-SCAN funnel (r15 rewrite): the original composition re-derived
    the quality-gated frame from the documents parquet at every semi/anti
    stage boundary — 8 corpus scans in one plan (r14 plan audit;
    SCALING.md round-14 finding). localCheckpoint truncates lineage into
    executor-local blocks (lost-executor => job retry from the scan); on
    a real cluster swap for a reliable ``checkpoint()`` dir or accept the
    retry — either way 1 write + 7 block reads beats 8 corpus scans."""
    from windowsession_using_kafka_flink_docker_spark.operators import dedup as D

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", _e2e_text().alias("text"),
                    (F.col("doc_id") % _EVAL_MOD == 0).alias("is_eval"))
            .localCheckpoint())  # <- the one and only corpus scan
    train = docs.where(~F.col("is_eval")).drop("is_eval")
    eval_docs = docs.where(F.col("is_eval")).drop("is_eval")

    # Stage 1 — quality gate (gopher_quality_flags rules, stopword floor
    # _E2E_MIN_STOPWORDS).
    w = F.split(F.trim("text"), r"\s+")
    toks = train.select("doc_id", "lang", "text", w.alias("_w"))
    n = F.size("_w")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    gated = toks.where(
        n.between(50, 100_000)
        & (F.aggregate("_w", F.lit(0), lambda a, x: a + F.length(x)) / n)
        .between(3, 10)
        & (F.size(F.filter("_w", lambda x: x.rlike("[a-zA-Z]"))) / n > 0.8)
        & (F.size(F.filter("_w", lambda x: (x == "#") | (x == "..."))) / n
           < 0.1)
        & (F.size(F.array_distinct(
            F.filter("_w", lambda x: F.array_contains(stop_arr, F.lower(x)))))
           >= _E2E_MIN_STOPWORDS)
    ).select("doc_id", "lang", "text")

    # Stage 2 — exact dedup: keep each digest group's min id (semi-join
    # against the exact_dedup survivor list; digests shuffle, text stays).
    keepers = (D.exact_dedup(gated)
               .select(F.col("keep_id").alias("doc_id"))
               .localCheckpoint())  # id-list boundary 1
    exact = gated.join(keepers, "doc_id", "left_semi")

    # Stage 3 — near-dedup: exact 3-gram Jaccard pairs via the
    # prefix-filtered ssjoin; drop the larger id of every pair.
    drops = (D.ngram_jaccard_pairs(exact)
             .select(F.col("id_b").alias("doc_id")).distinct()
             .localCheckpoint())  # id-list boundary 2
    near = exact.join(drops, "doc_id", "left_anti")

    # Stage 4 — decontamination against the held-out eval split.
    flags = decontaminate(near, eval_docs)
    clean_ids = (flags.where(~F.col("contaminated")).select("doc_id")
                 .localCheckpoint())  # id-list boundary 3
    survivors = near.join(clean_ids, "doc_id", "left_semi")

    # Stage 5 — pack the surviving corpus into training sequences.
    return pack_sequences(survivors)


# --------------------------------------------------------------------------
# Token-budget document packing — the training-sequence construction step
# between curation and tokenization. The greedy fold lives in
# operators/packing.py, shared with the streaming bins maintainer
# (streaming/analytics_twins.py IncrementalPackingMaintainer).
# --------------------------------------------------------------------------

@register(
    "token_budget_packing",
    oracle=f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, CAST({_TOKC_SQL} AS BIGINT) AS toks,
         doc_id % {packing.PACK_SHARDS} AS shard,
         row_number() OVER (PARTITION BY doc_id % {packing.PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM documents
),
folded AS (
  SELECT shard, rn, doc_id, toks, 0::BIGINT AS bin_id, toks AS cum
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.toks,
         CASE WHEN f.cum + d.toks > {packing.PACK_BUDGET}
              THEN f.bin_id + 1 ELSE f.bin_id END,
         CASE WHEN f.cum + d.toks > {packing.PACK_BUDGET}
              THEN d.toks ELSE f.cum + d.toks END
  FROM folded f JOIN docs d ON d.shard = f.shard AND d.rn = f.rn + 1
)
SELECT shard, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM folded
GROUP BY 1, 2
""",
    description="Greedy sequential packing of documents into <= 2048-"
                "token training sequences, 16-way sharded by doc_id — the "
                "sequence-construction step between curation and "
                "tokenization. The running accumulator RESETS at each bin "
                "boundary (not a prefix sum), so the fold runs in "
                "applyInPandas per shard (one Arrow pass, the "
                "capped-sessionize class of semantics); oversized docs "
                "isolate into their own bin by the same rule. Oracle: a "
                "DuckDB recursive CTE computing the identical fold across "
                "shards in lockstep; the per-bin aggregation after the "
                "fold is map-side combinable.",
    tags=("llm", "text", "stateful", "packing"),
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per bin: (shard, bin_id, n_docs, bin_tokens, first_doc,
    last_doc). Each shard's fold is O(docs in shard) in one
    Arrow-batched pass; at 100 TB the shard count scales with the
    cluster."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.bins_from_packed(packing.pack_documents(docs))
