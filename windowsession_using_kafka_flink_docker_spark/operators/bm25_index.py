"""Persisted BM25 postings-index primitives — build, versioned-increment
append, and index-only query. Shared by the
``incremental_bm25_search`` catalog entry (plans/llm_pipeline.py) and
the streaming BM25 index maintainer
(streaming/bm25_index.py, maintainer #25). Lives in operators/ so the
runtime maintainer never imports the plans layer (the
operators/session_store.py precedent).

Layout — the serving contract at 100 TB:

- ``<path>/postings/inc=<n>/bucket=<b>/*.parquet`` — the inverted index
  over ALL tokens, (doc_id, tok, tf), partitioned by a token-hash
  bucket so a \\|q\\|-term query prunes to <= \\|q\\| directories per
  increment and reads NO document text;
- ``<path>/doclens/inc=<n>/*.parquet`` — (doc_id, dl) for corpus stats.

Every ingest is its OWN ``inc=<n>`` increment in BOTH components, each
directory carrying its own ``_SUCCESS`` commit marker — never a bare
``mode('append')`` into shared directories (r14 ADVICE: two non-atomic
appends let an interrupted ingest leave postings landed but doclens
stale while a top-level guard still passes, silently mis-scoring every
query). The reader requires the postings/doclens increment SETS to
match and every increment to be committed. Overwrite per inc id makes a
re-driven increment replay-idempotent — the streaming maintainer keys
increments on batch_id, the same idempotence-by-version discipline as
streaming/analytics_twins.py's ``_VersionedState``.

Reference anchor: the reference keeps no search index (its jobs are
session windows, flink_stream_task1.py:30-41); this is part of the
commissioned LLM-pipeline extension surface (SURVEY.md §2.11) — the
text-retrieval leg of the maintained-index family (session store,
near-dup LSH index, BM25 postings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Token-hash partition fanout of the postings table.
BM25_BUCKETS = 32
#: BM25 score hyperparameters (match operators/text_analysis.py:bm25_topk).
BM25_K1, BM25_B = 1.2, 0.75


def bm25_postings(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a document frame: postings = (doc_id,
    tok, tf, bucket) over ALL tokens — the real inverted index, with a
    token-hash bucket as the partition key so a |q|-term query prunes
    to <= |q| directories; doclens = (doc_id, dl)."""
    from windowsession_using_kafka_flink_docker_spark.operators.text_analysis import (
        normalized_text,
    )

    base = docs.select(
        "doc_id", F.split(normalized_text("text"), " ").alias("_t"))
    doclens = base.select("doc_id", F.size("_t").alias("dl"))
    postings = (base.select("doc_id", F.explode("_t").alias("tok"))
                .groupBy("doc_id", "tok")
                .agg(F.count(F.lit(1)).cast("long").alias("tf"))
                .withColumn("bucket",
                            F.pmod(F.hash("tok"), F.lit(BM25_BUCKETS))))
    return postings, doclens


from windowsession_using_kafka_flink_docker_spark.operators.versioned_index import (  # noqa: E402
    check_components_committed,
    compact_components,
    increments,
    next_increment,
    read_component,
    write_increment,
)

__all__ = [
    "BM25_BUCKETS", "BM25_K1", "BM25_B", "bm25_postings",
    "bm25_index_export", "bm25_index_append", "bm25_from_index",
    "check_index_committed", "compact_index", "increments",
]

#: Component layout (name -> partition columns) — the versioned_index
#: discipline instance for this index.
_COMPONENTS = {"postings": ("bucket",), "doclens": ()}


def _write_both(postings: DataFrame, doclens: DataFrame,
                path: str, inc: int) -> None:
    """One increment = its own ``inc=<n>`` directory under BOTH
    components, each with its own ``_SUCCESS`` marker (see
    operators/versioned_index.py for the torn-append argument)."""
    write_increment(postings, path, "postings", inc,
                    partition_by=("bucket",))
    write_increment(doclens, path, "doclens", inc)


def bm25_index_export(spark: SparkSession, docs: DataFrame,
                      path: str) -> None:
    """Build and persist the postings index for a corpus (increment 0)."""
    postings, doclens = bm25_postings(docs)
    _write_both(postings, doclens, path, 0)


def bm25_index_append(spark: SparkSession, path: str, delta: DataFrame,
                      inc: int | None = None) -> None:
    """Append a new document batch's OWN postings to the index as a
    fresh versioned increment — the existing corpus is never
    re-tokenized (doc_ids are unique across batches, so increments are
    disjoint). Pass ``inc`` explicitly to make a replayed ingest
    idempotent (the streaming maintainer passes its batch_id); default
    is one past the newest committed increment."""
    if inc is None:
        inc = next_increment(path, "postings")
    postings, doclens = bm25_postings(delta)
    _write_both(postings, doclens, path, inc)


def check_index_committed(path: str) -> list[str]:
    """Torn-index guard — every increment committed in BOTH components
    (operators/versioned_index.py:check_components_committed)."""
    return check_components_committed(path, tuple(_COMPONENTS), "bm25")


def compact_index(spark: SparkSession, path: str) -> int:
    """Fold all increments EXCEPT THE NEWEST into one — the
    read-amplification control: every query lists and reads all
    increments, so a long-running stream (one increment per batch)
    linearly inflates the postings scan until compaction runs. Run at
    quiescence (the maintain-job-restart moment, like the session
    store's dead-letter drain). Returns the number of increments
    folded (0 = nothing to do). Crash-safety: the shared tmp-then-swap
    protocol (operators/versioned_index.py:compact_components — the
    newest increment stays un-folded because a crash-replayed batch
    may overwrite it; a mid-rename crash fails closed at the reader
    guard until the next call completes the swap)."""
    return compact_components(spark, path, _COMPONENTS, "bm25")


def bm25_from_index(spark: SparkSession, path: str,
                    terms: tuple[str, ...], k: int) -> DataFrame:
    """Score a query FROM THE INDEX ALONE — no document text is read.
    The postings scan filters on the partition column ``bucket`` (<=
    |distinct terms| directories survive pruning per increment) and
    then on ``tok``; corpus stats (N, avgdl) aggregate the narrow
    doclens frame (a serving tier keeps them precomputed); df/idf come
    from the pruned postings. Same score expression + ROUND(.,4)-
    then-id ordering as operators/text_analysis.py:bm25_topk. Runs the
    torn-index guard first (:func:`check_index_committed`).

    Duplicate query terms weight their term's contribution by QUERY
    MULTIPLICITY (qf) over an HONEST per-doc df (one df count per
    distinct term) — the unified contract of SURVEY 2.105 finding 7.
    The scan itself stays distinct-term (a repeated term reads its
    postings once); only the scored sum picks up the qf factor, so
    distinct-term queries are bit-identical to the old set-semantics
    scores. The batch ``bm25_topk`` (operators/text_analysis.py)
    follows the same contract."""
    from collections import Counter

    qf = Counter(terms)
    terms = tuple(qf)
    incs = check_index_committed(path)
    if not incs:
        # Fresh index, no increments yet: an empty result, not a
        # zero-path spark.read crash (r15 ADVICE — matches the neardup
        # maintainer's empty-case handling in current_pairs).
        return spark.createDataFrame([], "doc_id BIGINT, bm25 DOUBLE")
    # bucket ids for the query terms, computed with the SAME hash the
    # writer used (one tiny Spark job; |terms| rows)
    buckets = [r.b for r in spark.createDataFrame(
        [(t,) for t in terms], "tok STRING")
        .select(F.pmod(F.hash("tok"), F.lit(BM25_BUCKETS)).alias("b"))
        .collect()]

    # `bucket` stays a discovered partition column, so the bucket filter
    # still prunes to <= |terms| directories PER increment.
    postings = (read_component(spark, path, "postings", incs)
                .where(F.col("bucket").isin(buckets))
                .where(F.col("tok").isin(list(terms))))
    doclens = read_component(spark, path, "doclens", incs)
    stats = doclens.agg(F.count(F.lit(1)).alias("_n"),
                        F.avg("dl").alias("_avgdl"))
    dft = postings.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("_df"))
    idf = F.log(F.lit(1.0)
                + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5))
    tf_part = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf") + BM25_K1 * (1.0 - BM25_B
                                 + BM25_B * F.col("dl") / F.col("_avgdl")))
    qf_df = spark.createDataFrame(
        [(t, float(c)) for t, c in qf.items()], "tok STRING, _qf DOUBLE")
    scored = (postings.join(doclens, "doc_id")
              .join(F.broadcast(dft), "tok")
              .join(F.broadcast(qf_df), "tok")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.sum(F.col("_qf") * idf * tf_part).alias("_s")))
    return (scored.select("doc_id", F.round("_s", 4).alias("bm25"))
            .orderBy(F.desc("bm25"), "doc_id")
            .limit(k))
