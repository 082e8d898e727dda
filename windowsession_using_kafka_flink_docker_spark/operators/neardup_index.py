"""Persisted MinHash-LSH near-dup index primitives — versioned-increment
append and delta probe. Shared by the ``incremental_neardup_probe``
catalog entry (plans/llm_pipeline.py) and the streaming near-dup index
maintainer (streaming/neardup_index.py,
maintainer #26). Lives in operators/ so the runtime maintainer never
imports the plans layer (the operators/session_store.py precedent).

Layout — the continuous-dedup serving contract at 100 TB:

- ``<path>/bands/inc=<n>/band_id=<b>/*.parquet`` — the LSH band table
  (_id, band_hash), partitioned by band so a probe joins band-aligned
  directories;
- ``<path>/bucket_counts/inc=<n>/*.parquet`` — per-(band, bucket) row
  counts, the O(1) cap ledger (summed across increments on read);
- ``<path>/shingles/inc=<n>/*.parquet`` — the shingle store for exact
  Jaccard verification, fetched by id join only for surviving
  candidates, never scanned.

Every ingest is its OWN ``inc=<n>`` increment in ALL THREE components,
each directory carrying its own ``_SUCCESS`` marker; the reader
requires the three increment sets to match exactly (the same
fail-closed discipline as operators/bm25_index.py — an append
interrupted between components can never silently under-prune or drop
pairs). Overwrite per inc id makes a re-driven increment
replay-idempotent; the streaming maintainer keys increments on
batch_id and probes with ``before_inc=batch_id`` so a crash-replayed
batch sees exactly the first delivery's index view.

Parameters mirror operators/dedup.py's portable-md5 MinHash pipeline
(64 hashes, 16 bands x 4 rows, Mersenne-prime permutations), so the
DuckDB closed-form oracle of the staged entry certifies this exact
math end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: MinHash/LSH geometry (operators/dedup.py portable-md5 mode).
MH_HASHES, MH_BANDS, MH_ROWS = 64, 16, 4
#: Candidate-bucket cap: buckets whose COMBINED (index + delta) size
#: exceeds this are skipped, exactly as a from-scratch run would.
MH_CAP = 1000
#: Exact-Jaccard verification threshold for emitted pairs.
MH_THRESHOLD = 0.5


def portable_bands(sig_df: DataFrame) -> DataFrame:
    """(_id, band_id, band_hash) in portable md5 mode — the same band
    key operators/dedup.py:minhash_lsh_pairs derives (md5 over the
    comma-joined 4-minhash slice), factored for split build/probe."""
    def band_hash(b: int) -> F.Column:
        sl = F.slice(F.col("_sig"), b * MH_ROWS + 1, MH_ROWS)
        return F.md5(F.array_join(
            F.transform(sl, lambda x: x.cast("string")), ",").cast("binary"))

    band_cols = F.array(*[
        F.struct(F.lit(b).alias("band_id"), band_hash(b).alias("band_hash"))
        for b in range(MH_BANDS)])
    return (sig_df.select("_id", F.explode(band_cols).alias("bh"))
            .select("_id", "bh.band_id", "bh.band_hash"))


def portable_signatures(shingles: DataFrame) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators import dedup as D

    return (shingles
            .select("_id", D.base_hashes_md5_expr(F.col("_sh")).alias("_base"))
            .select("_id", D.minhash_signature_udf(MH_HASHES)(F.col("_base"))
                    .alias("_sig")))


#: Component layout (name -> partition columns) — the versioned_index
#: discipline instance for this index. The streaming maintainer adds a
#: fourth ``pairs`` component (its probe results) kept in lockstep.
_COMPONENTS = {"bands": ("band_id",), "bucket_counts": (),
               "shingles": ()}

from windowsession_using_kafka_flink_docker_spark.operators.versioned_index import (  # noqa: E402
    check_components_committed,
    increment_leaf,
    next_increment,
    read_component,
    write_increment,
)


def check_index_committed(path: str,
                          before_inc: int | None = None) -> list[str]:
    """All three components must hold the SAME committed increment set
    — a missing counts increment would silently under-prune, a missing
    shingle increment would silently drop cross pairs. Fail closed
    (operators/versioned_index.py:check_components_committed).

    ``before_inc`` scopes the check to increments strictly below it —
    the replay path: a crash-replayed batch's OWN increment may be torn
    (that is exactly what the replay heals by overwriting), so only the
    increments the probe will actually read are validated."""
    return check_components_committed(path, tuple(_COMPONENTS),
                                      "near-dup", before_inc)


def neardup_index_append(spark: SparkSession, batch: DataFrame,
                         path: str, inc: int | None = None,
                         shingles: DataFrame | None = None,
                         bands: DataFrame | None = None) -> None:
    """Append one document batch's band rows, bucket counts, and
    shingles as a fresh versioned increment — the existing corpus is
    never re-hashed. Pass ``inc`` explicitly for replay idempotence
    (the streaming maintainer passes its batch_id); default is one past
    the newest committed increment. ``shingles``/``bands`` accept the
    batch's ALREADY-MATERIALIZED frames (the maintainer computes them
    once and shares them with the probe — without this the hot
    streaming path paid the regex-normalize + Arrow-minhash +
    16-band-md5 pipeline twice per batch, r15 review finding); the
    caller owns their persist/unpersist when provided."""
    from windowsession_using_kafka_flink_docker_spark.operators import dedup as D

    if inc is None:
        inc = next_increment(path, "bands")
    own = shingles is None
    if own:
        shingles = D.shingle_table(batch)
    try:
        if bands is None:
            bands = portable_bands(portable_signatures(shingles))
        write_increment(bands, path, "bands", inc,
                        partition_by=("band_id",))
        # Derive the count ledger from the JUST-WRITTEN parquet, not
        # the lazy bands frame — re-deriving would run the Arrow
        # minhash + 16-band-md5 pipeline a second time.
        counts = (read_component(spark, path, "bands",
                                 [increment_leaf(inc)])
                  .groupBy("band_id", "band_hash")
                  .agg(F.count(F.lit(1)).alias("n")))
        write_increment(counts, path, "bucket_counts", inc)
        write_increment(shingles, path, "shingles", inc)
    finally:
        if own:
            shingles.unpersist()


def neardup_index_probe(spark: SparkSession, path: str,
                        delta: DataFrame,
                        before_inc: int | None = None,
                        shingles: DataFrame | None = None,
                        bands: DataFrame | None = None) -> DataFrame:
    """Probe the persisted index with a new document batch: signatures
    are computed for the DELTA ONLY; candidates come from (delta band x
    index band) plus the delta's internal self-join; the bucket cap
    applies to COMBINED (index + delta) bucket sizes, exactly as a
    from-scratch run over corpus+delta would size them. Returns every
    near-dup pair involving a delta doc — (id_a, id_b, jaccard,
    is_cross) with id_a < id_b, ``is_cross`` = exactly one side is a
    delta doc — eagerly materialized.

    ``before_inc`` restricts the index view to increments strictly
    below it: the streaming maintainer passes its batch_id, so a
    crash-replayed batch (whose own increment already landed) probes
    exactly the first delivery's view and recomputes identical pairs.
    ``shingles``/``bands`` accept the delta's already-materialized
    frames (shared with the append on the streaming hot path — see
    :func:`neardup_index_append`); the caller owns their lifecycle
    when provided."""
    from windowsession_using_kafka_flink_docker_spark.operators import dedup as D

    incs = check_index_committed(path, before_inc)
    # None when the scoped set is empty (first batch / empty index)
    idx_bands = read_component(spark, path, "bands", incs)
    idx_counts = read_component(spark, path, "bucket_counts", incs)
    idx_shingles = read_component(spark, path, "shingles", incs)

    own = shingles is None
    d_shingles = D.shingle_table(delta) if own else shingles
    d_bands = bands if bands is not None else \
        portable_bands(portable_signatures(d_shingles)).localCheckpoint()

    d_counts = d_bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("dn"))
    if idx_counts is not None:
        # per-increment counts sum to the total ledger
        total = (idx_counts.groupBy("band_id", "band_hash")
                 .agg(F.sum("n").alias("n")))
        combined = total.join(d_counts, ["band_id", "band_hash"], "full")
    else:
        combined = d_counts.withColumn("n", F.lit(None).cast("long"))
    over_cap = (combined
                .where(F.coalesce(F.col("n"), F.lit(0))
                       + F.coalesce(F.col("dn"), F.lit(0)) > MH_CAP)
                .select("band_id", "band_hash",
                        F.lit(True).alias("_skip")))
    d_ok = (d_bands.join(F.broadcast(over_cap), ["band_id", "band_hash"],
                         "left")
            .where(F.col("_skip").isNull()).drop("_skip"))

    within = (d_ok.alias("x").join(d_ok.alias("y"),
                                   ["band_id", "band_hash"])
              .where(F.col("x._id") < F.col("y._id"))
              .select(F.col("x._id").alias("id_a"),
                      F.col("y._id").alias("id_b")))
    if idx_bands is not None:
        idx_ok = (idx_bands.join(F.broadcast(over_cap),
                                 ["band_id", "band_hash"], "left")
                  .where(F.col("_skip").isNull()).drop("_skip"))
        # strict != : a replayed batch finds its own docs in the index;
        # the self-match (a, a) must not surface as a pair
        cross = (d_ok.alias("d").join(idx_ok.alias("i"),
                                      ["band_id", "band_hash"])
                 .where(F.col("d._id") != F.col("i._id"))
                 .select(F.least("d._id", "i._id").alias("id_a"),
                         F.greatest("d._id", "i._id").alias("id_b")))
        cand = cross.unionByName(within).dropDuplicates(["id_a", "id_b"])
        all_sh = idx_shingles.unionByName(d_shingles) \
            .dropDuplicates(["_id"])
    else:
        cand = within.dropDuplicates(["id_a", "id_b"])
        all_sh = d_shingles

    verified = (cand
                .join(all_sh.select(F.col("_id").alias("id_a"),
                                    F.col("_sh").alias("_sh_a")), "id_a")
                .join(all_sh.select(F.col("_id").alias("id_b"),
                                    F.col("_sh").alias("_sh_b")), "id_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    delta_ids = d_shingles.select("_id").distinct()
    in_a = delta_ids.select(F.col("_id").alias("id_a"),
                            F.lit(True).alias("_da"))
    in_b = delta_ids.select(F.col("_id").alias("id_b"),
                            F.lit(True).alias("_db"))
    out = (verified.withColumn("jaccard", F.round(jac, 4))
           .where(F.col("jaccard") >= MH_THRESHOLD)
           .join(F.broadcast(in_a), "id_a", "left")
           .join(F.broadcast(in_b), "id_b", "left")
           .select("id_a", "id_b", "jaccard",
                   (F.coalesce(F.col("_da"), F.lit(False))
                    != F.coalesce(F.col("_db"), F.lit(False)))
                   .alias("is_cross"))
           .localCheckpoint(eager=True))
    if own:
        d_shingles.unpersist()
    return out
