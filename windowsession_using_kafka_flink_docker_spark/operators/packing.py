"""Token-budget document packing — shared greedy fold for the batch
entry (plans/curation.py ``token_budget_packing``) and the streaming
bins maintainer
(streaming/analytics_twins.py ``IncrementalPackingMaintainer``), so
stream == batch is one code path.

Semantics: documents in doc_id order accumulate into the current bin;
a doc that would push the bin past ``PACK_BUDGET`` tokens CLOSES it
and opens the next (reset accumulator — not a prefix sum, so the
declarative API cannot express it; the capped-sessionize class of
custom-stateful semantics). A doc larger than the budget isolates into
its own bin by the same rule, never split. The FIRST doc of a shard
never advances the bin (an empty bin accepts any doc) — which is also
the resumption rule: a non-empty stored tail bin advances exactly when
a batch's first doc would overflow it, so folding a concatenation of
batches from the stored tail equals folding everything at once.

Sharding: ``doc_id % PACK_SHARDS`` — the parallelism knob (each
shard's fold is sequential; at 100 TB the shard count scales with the
cluster and shards stay doc-id-contiguous so packing is
deterministic).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_BUDGET = 2048
PACK_SHARDS = 16

#: Doc-level packed schema (applyInPandas output).
PACKED_SCHEMA = "shard long, bin_id long, doc_id long, toks long"


def doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, shard) — whitespace token counts, the same
    ``token_count`` the corpus-stats entries pin against DuckDB."""
    from windowsession_using_kafka_flink_docker_spark.operators.text_analysis import (
        token_count,
    )

    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("toks"),
        (F.col("doc_id") % PACK_SHARDS).alias("shard"))


def greedy_fold(toks, start_bin: int = 0, start_cum: int = 0,
                start_filled: bool = False):
    """The sequential fold: per-doc bin ids plus the final
    ``(bin, cum, filled)`` tail — resumable: folding batch B from
    batch A's returned tail equals folding A+B at once."""
    bins = []
    b, cum, filled = start_bin, start_cum, start_filled
    for t in toks:
        t = int(t)
        if filled and cum + t > PACK_BUDGET:
            b += 1
            cum = 0
        cum += t
        filled = True
        bins.append(b)
    return bins, b, cum, filled


def pack_group(pdf: pd.DataFrame, start_bin: int = 0, start_cum: int = 0,
               start_filled: bool = False) -> pd.DataFrame:
    """Fold one shard's docs (sorted here) into doc-level bin rows."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins, _, _, _ = greedy_fold(pdf["toks"], start_bin, start_cum,
                                start_filled)
    pdf["bin_id"] = pd.Series(bins, dtype="int64")
    return pdf[["shard", "bin_id", "doc_id", "toks"]]


def pack_documents(docs: DataFrame) -> DataFrame:
    """Doc-level packing of a corpus from scratch (batch path): one
    Arrow pass per shard. (applyInPandas type-checks the function's
    arity, so the resumable pack_group is wrapped to its 1-arg form.)"""
    return (doc_tokens(docs)
            .groupBy("shard")
            .applyInPandas(lambda pdf: pack_group(pdf), PACKED_SCHEMA))


def bins_from_packed(packed: DataFrame) -> DataFrame:
    """Per-bin aggregate — map-side combinable after the fold."""
    return (packed.groupBy("shard", "bin_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("toks").alias("bin_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))
