"""Embedding similarity search: brute-force cosine top-k and LSH-bucketed ANN.

Kernel choice (measured, not guessed): candidate-pair SCORING — the hot
path touching corpus-sized data — runs as an Arrow-batched pandas UDF
(`_cosine_batch`), i.e. one numpy/BLAS matmul per Arrow batch. Spark's
higher-order array functions (``zip_with``/``aggregate``) evaluate their
lambdas interpreted, per element (~1 µs each): a 64-dim cosine costs ~400
lambda dispatches per pair, which is 100-1000x slower than the vectorized
kernel and would dominate every similarity query at scale. The HOF
expression forms (`dot_expr`/`cosine_expr`) are kept for BLOCKING-side
expressions whose element counts are tiny or one-off (bucket ids, probe
ranking over n_cells structs) where staying JVM-side avoids a Python
stage. This is exactly the "Pandas UDFs for genuine numeric kernels"
carve-out the plan-quality sweep encodes.

Scale path: brute-force top-k is a broadcast of the (small) query set
against the (huge) corpus — the corpus is never shuffled; each task scores
its scan split and a TakeOrderedAndProject per query key keeps memory flat.
The ANN variant buckets by random-hyperplane signs (sign-LSH ≈ cosine), so
candidate scoring touches only matching buckets; recall is tuned by the
number of hyperplanes and probe multiplicity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
# DataType instances (not DDL strings): string return types are parsed via
# the active SparkContext, which would make module import require a session
from pyspark.sql.types import ArrayType, DoubleType, IntegerType


@pandas_udf(DoubleType())
def _cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine over two array columns: one BLAS pass per Arrow
    batch (float64 accumulate), zero-vector pairs score 0.0."""
    import numpy as np

    A = np.stack(a.values).astype(np.float64, copy=False)
    B = np.stack(b.values).astype(np.float64, copy=False)
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return pd.Series(np.where(den == 0, 0.0, num / np.where(den == 0, 1.0, den)))


def dot_expr(a: F.Column, b: F.Column) -> F.Column:
    """Dot product of two array<numeric> columns, computed in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: F.Column) -> F.Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: F.Column, b: F.Column) -> F.Column:
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_expr(a, b) / denom)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_digits: int = 4) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` is broadcast (query sets are small by construction); rank
    orders by the ROUNDED similarity with id tiebreak so results are
    deterministic and engine-portable (float noise below round_digits can't
    flip the selection).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_cosine_batch("_qv", "_cv"), round_digits))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "match_id", "cosine", "rnk")
    )


def _drop_big_buckets(df: DataFrame, bucket_cols: list[str],
                      max_bucket_size: int) -> DataFrame:
    """Remove rows whose bucket holds more than ``max_bucket_size`` members
    — the broadcast skip-list cap every LSH blocker in ``dedup.py`` applies.
    Real encoder outputs cluster directionally, so a handful of sign-LSH
    buckets can swallow a large corpus share; without the cap the
    bucket self-join/probe goes quadratic on exactly those buckets at
    scale. The skip-list is tiny (one row per *oversized* bucket), so it
    always broadcasts."""
    big = (
        df.groupBy(*bucket_cols).count()
        .where(F.col("count") > max_bucket_size)
        .select(*bucket_cols, F.lit(True).alias("_skip"))
    )
    return (
        df.join(F.broadcast(big), bucket_cols, "left")
        .where(F.col("_skip").isNull())
        .drop("_skip")
    )


def _hyperplanes(dim: int, n: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG → uniform in
    [-1, 1]); no numpy dependency so signatures are reproducible anywhere."""
    planes, x = [], seed
    for _ in range(n):
        row = []
        for _ in range(dim):
            x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
            row.append((x / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _sql_vec(c: list[float]) -> str:
    """SQL array<double> literal. The D suffix keeps every element a
    DOUBLE — a bare decimal literal would parse as DECIMAL and poison the
    arithmetic's type."""
    return "array(" + ",".join(f"{x!r}D" for x in c) + ")"


def _sql_mat(m: list[list[float]]) -> str:
    return "array(" + ",".join(_sql_vec(c) for c in m) + ")"


def _sql_dot(a: str, b: str) -> str:
    """SQL dot product of two array expressions (double accumulate)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), "
            "0D, (acc, v) -> acc + v)")


def signlsh_bucket_expr(vec_col: str, dim: int, n_planes: int = 12,
                        seed: int = 42) -> F.Column:
    """Sign-LSH bucket id: bit b = sign(v · plane_b). Vectors with small
    angle collide with high probability (cosine LSH).

    ``vec_col`` is a COLUMN NAME: the whole expression (planes matrix
    included) is built as ONE SQL string and parsed JVM-side in a single
    call — composing it from per-element ``F.lit``s costs thousands of
    Py4J round-trips (measured seconds of driver time per plan at
    dim=64)."""
    planes = _hyperplanes(dim, n_planes, seed)
    return F.expr(
        f"aggregate(zip_with({_sql_mat(planes)}, sequence(0, {n_planes - 1}), "
        f"(p, b) -> CASE WHEN {_sql_dot(vec_col, 'p')} >= 0 "
        "THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (acc, v) -> acc | v)"
    )


def duckdb_signlsh_bucket_sql(vec_expr: str, dim: int, n_planes: int,
                              seed: int = 42) -> str:
    """DuckDB replica of :func:`signlsh_bucket_expr` for oracle SQL — same
    seeded hyperplanes, same left-to-right double accumulation (SQL ``+``
    is left-associative in both engines, and every multiplicand is CAST to
    DOUBLE, so the IEEE op sequence is bit-identical), same ``>= 0`` sign
    rule. Float constants go through CAST('repr' AS DOUBLE): repr is the
    shortest round-trip form, so the parsed double is exactly the plane
    coefficient Spark embeds (a bare decimal literal would parse as
    DECIMAL in DuckDB and poison the arithmetic)."""
    planes = _hyperplanes(dim, n_planes, seed)
    cases = []
    for b, plane in enumerate(planes):
        dot = " + ".join(
            f"CAST({vec_expr}[{i + 1}] AS DOUBLE) * CAST('{p!r}' AS DOUBLE)"
            for i, p in enumerate(plane)
        )
        cases.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << b} ELSE 0 END)")
    return "(" + "\n + ".join(cases) + ")"


def ann_cosine_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_planes: int = 10, round_digits: int = 4,
                    max_bucket_size: int | None = 100_000) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's sign-LSH
    bucket. At 100 TB the bucket column is a parquet partition/cluster key,
    so a query probes ~1/2^n_planes of the corpus.

    ``max_bucket_size`` drops degenerate corpus buckets (directionally
    clustered encoder outputs funnel into few sign patterns) before the
    probe join, bounding per-query candidate work; a query whose bucket was
    dropped returns no matches rather than scanning a corpus-sized bucket —
    the standard LSH trade (raise ``n_planes`` to split hot buckets instead
    of raising the cap). ``None`` disables the cap."""
    c = corpus.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("_cv")
    ).withColumn("bucket", signlsh_bucket_expr("_cv", dim, n_planes))
    if max_bucket_size is not None:
        c = _drop_big_buckets(c, ["bucket"], max_bucket_size)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("bucket", signlsh_bucket_expr("_qv", dim, n_planes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("match_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_cosine_batch("_qv", "_cv"), round_digits))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "match_id", "cosine", "rnk")
    )


def multitable_signlsh_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                            k: int = 10, n_tables: int = 8, n_planes: int = 5,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            seed: int = 42, round_digits: int = 4,
                            max_bucket_size: int | None = 100_000) -> DataFrame:
    """Multi-table sign-LSH top-k — OR-amplification over ``n_tables``
    independent ``n_planes``-bit tables (Indyk/Motwani): a candidate
    collides if it shares a bucket in ANY table, so candidate recall rises
    from p^b (one table) to 1-(1-p^b)^L. On corpora without cluster
    structure (near-orthogonal random embeddings — this testdata, and the
    known worst case for ANN) single-table recall@10 is ~0; L=8 x 5 bits
    reaches ~0.5 while scanning ~25% of the corpus.

    Scale shape: ONE signature of ``n_tables*n_planes`` sign bits per
    vector (one pass over the embedding), sliced into per-table buckets by
    bit arithmetic; the explode replicates only the slim (id, table,
    bucket) index rows, never the vectors. Candidate pairs are
    ``distinct``-ed BEFORE scoring so each pair is scored once, then match
    vectors join back by id and query vectors broadcast. Per-(table,
    bucket) size caps bound the worst-case probe exactly as in
    :func:`ann_cosine_topk`."""
    total = n_tables * n_planes
    mask = (1 << n_planes) - 1
    tables = F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("t")
    bucket = F.expr(f"shiftright(_sig, CAST(t * {n_planes} AS INT)) & {mask}")

    c_vec = corpus.select(F.col(id_col).alias("match_id"),
                          F.col(vec_col).alias("_cv"))
    c_idx = (
        c_vec.withColumn("_sig", signlsh_bucket_expr("_cv", dim, total, seed))
        .select("match_id", "_sig", tables)
        .withColumn("bucket", bucket)
        .select("match_id", "t", "bucket")
    )
    if max_bucket_size is not None:
        c_idx = _drop_big_buckets(c_idx, ["t", "bucket"], max_bucket_size)
    q_vec = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("_qv"))
    q_idx = (
        q_vec.withColumn("_sig", signlsh_bucket_expr("_qv", dim, total, seed))
        .select("query_id", "_sig", tables)
        .withColumn("bucket", bucket)
        .select("query_id", "t", "bucket")
    )
    cand = (
        c_idx.join(F.broadcast(q_idx), ["t", "bucket"])
        .where(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id")
        .distinct()
    )
    scored = (
        cand.join(c_vec, "match_id")
        .join(F.broadcast(q_vec), "query_id")
        .withColumn("cosine", F.round(_cosine_batch("_qv", "_cv"), round_digits))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "match_id", "cosine", "rnk")
    )


def _unit_rows(vectors) -> "list[list[float]]":
    """Driver-side unit normalization of a small sample (numpy); zero
    vectors pass through unchanged."""
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    n = np.linalg.norm(x, axis=1, keepdims=True)
    return (x / np.where(n == 0, 1.0, n)).tolist()


class IvfIndex:
    """A trained IVF index: coarse-quantizer centroids plus the corpus with
    its cell assignments (persisted). Build ONCE per corpus with
    :func:`ivf_build`, probe many times with :func:`ivf_cosine_topk` — at
    100 TB the assignments are written out partitioned/clustered by
    ``cell`` at ingest and the quantizer is a few KB of centroids, so a
    probe never re-touches the training path."""

    def __init__(self, centers: list[list[float]], assigned: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        self.centers = centers
        self.assigned = assigned
        self.id_col = id_col
        self.vec_col = vec_col

    def unpersist(self) -> None:
        self.assigned.unpersist()


def _spherical_kmeans(vectors, n_cells: int, seed: int, max_iter: int):
    """Driver-side spherical k-means (Lloyd's on the unit sphere) over a
    bounded training sample — deterministic (seeded init, fixed iteration
    count). A 16-cell coarse quantizer needs a few thousand training
    points, never the corpus (standard IVF practice), so the fit is
    numpy-local: zero cluster jobs, microseconds of CPU."""
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    rng = np.random.default_rng(seed)
    k = min(n_cells, len(x))
    centers = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(max_iter):
        assign = np.argmax(x @ centers.T, axis=1)  # unit vectors: dot == cosine
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    centers[c] = m / n
    return [[float(v) for v in c] for c in centers]


def ivf_assign(corpus: DataFrame, n_cells: int = 16, seed: int = 42,
               max_iter: int = 6, id_col: str = "vec_id",
               vec_col: str = "embedding",
               max_train_rows: int = 4096) -> tuple[list[list[float]], DataFrame]:
    """Train the IVF coarse quantizer on a bounded sample and assign every
    corpus vector to its cell.

    Training collects at most ``max_train_rows`` vectors straight off the
    scan — no repartition (at 100 TB that would full-shuffle the corpus to
    harvest 4 KB of sample) — normalizes them in numpy on the driver, and
    runs seeded spherical k-means there (a coarse quantizer with 16-ish
    cells gains nothing from more data — the FAISS-style sample-train).
    Assignment is map-only over the scan: one argmax-of-gemm per Arrow
    batch, and the corpus is NOT normalized first — ``argmax_c (x·c)`` is
    invariant to scaling x by 1/|x|, so only the centroids must be unit
    (which the k-means guarantees). The ``cell`` column becomes the parquet
    partition/cluster key so a probe reads only its cells' files. Probe
    exactness never depends on training quality: ``nprobe == n_cells``
    equals the exact scan for ANY centroids (pinned by pytest).
    Returns (centroids, corpus+cell).
    """
    sample = [r[0] for r in corpus.select(vec_col).limit(max_train_rows).collect()]
    if not sample:
        return [], corpus.withColumn("cell", F.lit(0))
    centers = _spherical_kmeans(_unit_rows(sample), n_cells, seed, max_iter)

    # Assignment = argmax of (batch x centers^T): one gemm per Arrow batch
    # (the vectorized-kernel rule, module docstring); ties resolve to the
    # lowest cell id (np.argmax first-occurrence). Zero vectors dot 0
    # against every center and land in cell 0.
    def _make_assign(cs):
        @pandas_udf(IntegerType())
        def _assign(v: pd.Series) -> pd.Series:
            import numpy as np
            C = np.asarray(cs, dtype=np.float64).T  # dim x k
            X = np.stack(v.values).astype(np.float64, copy=False)
            return pd.Series(np.argmax(X @ C, axis=1).astype("int32"))
        return _assign

    assigned = corpus.withColumn("cell", _make_assign(centers)(F.col(vec_col)))
    return centers, assigned


def ivf_build(corpus: DataFrame, n_cells: int = 16, seed: int = 42,
              max_iter: int = 6, id_col: str = "vec_id",
              vec_col: str = "embedding",
              max_train_rows: int = 4096) -> IvfIndex:
    """Build a reusable IVF index: train the quantizer once (on a sample),
    assign the corpus once, persist the assignments so every subsequent
    probe starts from the materialized (cell, id, vector) layout instead of
    re-running KMeans — the train/probe split a serving path requires."""
    centers, assigned = ivf_assign(corpus, n_cells, seed, max_iter,
                                   id_col, vec_col, max_train_rows)
    assigned = assigned.persist()
    assigned.count()  # materialize now: probes must not re-trigger the fit
    return IvfIndex(centers, assigned, id_col, vec_col)


def _probe_cells(queries: DataFrame, centers: list[list[float]], nprobe: int,
                 id_col: str, vec_col: str) -> DataFrame:
    """(query_id, cell) pairs for the ``nprobe`` cosine-nearest centroids of
    each query — centroids are a literal array (they are tiny), so probing
    is pure expressions over the broadcastable query set: score all cells
    per row, sort the (n_cells)-element struct array, slice nprobe, explode.
    No window function, no shuffle — the old row_number() ranking paid a
    hash exchange just to pick top-nprobe of 16 structs.

    Centroids are unit-normalized HERE (in Python, they are plain lists):
    cluster means of unit vectors have norms that shrink with cluster
    spread, so ranking by the raw dot product would bias probes toward
    tight clusters and skip diffuse cells containing true neighbors. The
    QUERY vector is deliberately NOT normalized: its norm scales every
    cell's dot equally, so the per-row ranking is unchanged."""
    def _unit(c: list[float]) -> list[float]:
        n = sum(x * x for x in c) ** 0.5
        return c if n == 0 else [x / n for x in c]

    # struct(-d, cell): lexicographic sort ascending == dot descending with
    # lowest-cell tiebreak (the same total order the window rank used).
    unit_centers = _sql_mat([_unit(c) for c in centers])
    scored = F.expr(
        f"zip_with({unit_centers}, sequence(0, {len(centers) - 1}), "
        f"(c, i) -> named_struct('negd', -{_sql_dot('_qv', 'c')}, "
        "'cell', CAST(i AS INT)))"
    )
    return (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("_top", F.slice(F.array_sort(scored), 1, nprobe))
        .select("query_id", "_qv", F.explode("_top").alias("_c"))
        .select("query_id", F.col("_c.cell").alias("cell"), "_qv")
    )


def ivf_cosine_topk(corpus: DataFrame | None, queries: DataFrame, k: int = 10,
                    n_cells: int = 16, nprobe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42, round_digits: int = 4,
                    index: IvfIndex | None = None) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors in the query's
    ``nprobe`` nearest cells (the scale path next to sign-LSH ANN).

    Pass a prebuilt ``index`` (:func:`ivf_build`) to probe without
    retraining — the serving path; without one, a throwaway index is
    trained from ``corpus`` for this call (exploratory path).

    With ``nprobe == n_cells`` this degrades gracefully to the exact
    result (every cell probed) — the recall pytest pins that identity.
    Candidate scoring joins on the cell key; a corpus vector lives in
    exactly one cell, so no candidate is scored twice.
    """
    if index is None:
        centers, assigned = ivf_assign(corpus, n_cells, seed, id_col=id_col,
                                       vec_col=vec_col)
    else:
        centers, assigned = index.centers, index.assigned
        id_col, vec_col = index.id_col, index.vec_col
    c = assigned.select("cell", F.col(id_col).alias("match_id"),
                        F.col(vec_col).alias("_cv"))
    probes = _probe_cells(queries, centers, nprobe, id_col, vec_col)
    scored = (
        c.join(F.broadcast(probes), "cell")
        .where(F.col("match_id") != F.col("query_id"))
        .withColumn("cosine",
                    F.round(_cosine_batch("_qv", "_cv"), round_digits))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "match_id", "cosine", "rnk")
    )


def embedding_near_dups(df: DataFrame, threshold: float = 0.95, dim: int = 64,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_planes: int = 8, round_digits: int = 4,
                        max_bucket_size: int = 10_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked then exactly
    verified — the embedding-space analogue of MinHash dedup.

    ``max_bucket_size`` drops degenerate buckets before the self-join (the
    same cap every ``dedup.py`` blocker applies): with ``n_planes=8`` there
    are only 256 buckets, and real encoder outputs cluster directionally
    into a few of them — an uncapped bucket self-join would go quadratic on
    exactly those buckets at 100 TB."""
    v = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")) \
          .withColumn("bucket", signlsh_bucket_expr("_v", dim, n_planes))
    v = _drop_big_buckets(v, ["bucket"], max_bucket_size)
    a = v.select("bucket", F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    b = v.select("bucket", F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(_cosine_batch("_va", "_vb"), round_digits))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


class PqIndex:
    """A trained product-quantization index: per-subspace codebooks plus
    the corpus encoded as one small code per subspace (persisted). With
    ``n_subspaces=8`` over 64-d floats a vector compresses 256 bytes →
    8 bytes (32x): at 100 TB this is the difference between an ANN scan
    that streams 3 TB of codes and one that streams the raw corpus — the
    FAISS IVF-PQ memory/recall trade, built from the same sample-train +
    map-only-encode shape as :class:`IvfIndex`."""

    def __init__(self, codebooks: list[list[list[float]]], encoded: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        self.codebooks = codebooks  # [n_subspaces][n_centroids][sub_dim]
        self.encoded = encoded      # (id, codes array<int>) — persisted
        self.id_col = id_col
        self.vec_col = vec_col

    def unpersist(self) -> None:
        self.encoded.unpersist()


def _pq_train(vectors, n_subspaces: int, n_centroids: int, seed: int,
              max_iter: int = 8) -> list[list[list[float]]]:
    """Driver-side per-subspace Lloyd's k-means (euclidean) over a bounded
    unit-normalized sample — deterministic (seeded init, fixed iterations).
    Codebooks are tiny (n_subspaces * n_centroids * sub_dim floats)."""
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    sub = np.array_split(x, n_subspaces, axis=1)
    books = []
    for s, xs in enumerate(sub):
        rng = np.random.default_rng(seed + s)
        k = min(n_centroids, len(xs))
        centers = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(max_iter):
            d = ((xs[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d, axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    centers[c] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in centers])
    return books


def pq_build(corpus: DataFrame, dim: int, n_subspaces: int = 8,
             n_centroids: int = 16, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             max_train_rows: int = 4096) -> PqIndex:
    """Train PQ codebooks on a bounded sample and encode the corpus.

    Training mirrors :func:`ivf_assign`: a bounded ``limit().collect()``
    straight off the scan (never a corpus shuffle), unit-normalize in
    numpy, per-subspace k-means on the driver. Encoding is map-only: one
    (batch x centroids) distance gemm per subspace per Arrow batch.
    Corpus vectors ARE normalized before encoding (unlike IVF cell
    assignment, PQ approximates the vector itself, so the stored code must
    quantize the direction the cosine cares about)."""
    sample = [r[0] for r in corpus.select(vec_col).limit(max_train_rows).collect()]
    if not sample:
        raise ValueError("pq_build: empty corpus")
    books = _pq_train(_unit_rows(sample), n_subspaces, n_centroids, seed)

    def _make_encode(bs):
        @pandas_udf(ArrayType(IntegerType()))
        def _encode(v: pd.Series) -> pd.Series:
            import numpy as np
            X = np.stack(v.values).astype(np.float64, copy=False)
            n = np.linalg.norm(X, axis=1, keepdims=True)
            X = X / np.where(n == 0, 1.0, n)
            subs = np.array_split(X, len(bs), axis=1)
            codes = []
            for xs, book in zip(subs, bs):
                C = np.asarray(book, dtype=np.float64)
                # ||x-c||^2 = |x|^2 - 2 x·c + |c|^2; |x|^2 is rank-constant
                d = -2.0 * (xs @ C.T) + (C * C).sum(axis=1)[None, :]
                codes.append(np.argmin(d, axis=1).astype("int32"))
            return pd.Series(list(np.stack(codes, axis=1)))
        return _encode

    encoded = corpus.select(
        F.col(id_col), _make_encode(books)(F.col(vec_col)).alias("codes")
    ).persist()
    encoded.count()  # materialize: probes must not re-trigger the fit
    return PqIndex(books, encoded, id_col, vec_col)


def pq_adc_topk(corpus: DataFrame, queries: DataFrame, index: PqIndex,
                k: int = 10, rerank: int = 50,
                round_digits: int = 4) -> DataFrame:
    """PQ approximate top-k with asymmetric distance computation (ADC) and
    exact re-ranking.

    Per query the codebooks collapse to a lookup table LUT[s][c] =
    q_s · centroid[s][c] (n_subspaces x n_centroids dots, microseconds);
    the corpus scan then scores each stored code as sum_s LUT[s][code_s] —
    it never touches raw vectors, which is the entire point: at 100 TB the
    ADC pass streams the 32x-compressed codes. The approximate top
    ``rerank`` candidates per query then join back to real vectors for an
    exact cosine re-rank of the final ``k`` (the standard two-stage
    IVF-PQ serving shape; rerank bounds the raw-vector reads per query).
    """
    import numpy as np

    qrows = queries.select(index.id_col, index.vec_col).collect()
    qids = [r[0] for r in qrows]
    qvecs = _unit_rows([r[1] for r in qrows])
    luts = {}
    for qid, qv in zip(qids, qvecs):
        qsubs = np.array_split(np.asarray(qv, dtype=np.float64), len(index.codebooks))
        luts[qid] = np.stack([
            np.asarray(book, dtype=np.float64) @ qs
            for book, qs in zip(index.codebooks, qsubs)
        ])  # n_subspaces x n_centroids

    def _make_score(lut_map):
        @pandas_udf(DoubleType())
        def _score(codes: pd.Series, qid: pd.Series) -> pd.Series:
            import numpy as np
            C = np.stack(codes.values)              # rows x n_subspaces
            out = np.empty(len(C), dtype=np.float64)
            rows = np.arange(C.shape[1])
            for q in np.unique(qid.values):
                lut = lut_map[int(q)]
                m = (qid.values == q)
                out[m] = lut[rows, C[m]].sum(axis=1)
            return pd.Series(out)
        return _score

    qframe = queries.select(F.col(index.id_col).alias("query_id"))
    adc = (
        index.encoded.crossJoin(F.broadcast(qframe))
        .where(F.col(index.id_col) != F.col("query_id"))
        .withColumn("_adc", _make_score(luts)(F.col("codes"), F.col("query_id")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_adc").desc(),
                                               F.col(index.id_col))
    shortlist = (
        adc.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= rerank)
        .select("query_id", F.col(index.id_col).alias("match_id"))
    )
    # Exact re-rank: only the shortlist joins back to raw vectors (shuffle
    # on match_id over rerank*|queries| rows, never the corpus); query
    # vectors broadcast.
    c_vec = corpus.select(F.col(index.id_col).alias("match_id"),
                          F.col(index.vec_col).alias("_cv"))
    q_vec = queries.select(F.col(index.id_col).alias("query_id"),
                           F.col(index.vec_col).alias("_qv"))
    scored = (
        shortlist.join(c_vec, "match_id")
        .join(F.broadcast(q_vec), "query_id")
        .withColumn("cosine", F.round(_cosine_batch("_qv", "_cv"), round_digits))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                F.col("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= k)
        .select("query_id", "match_id", "cosine", "rnk")
    )


def ivf_export(index: IvfIndex, spark, path: str) -> None:
    """Persist an IVF index: centroids as a tiny (cell, center) parquet,
    assignments PARTITIONED BY cell — the layout a 100 TB serving tier
    restores from (probes then prune to nprobe cell directories).
    Used by the ivf_index_persist_roundtrip entry."""
    import os

    centers = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(index.centers)],
        "cell INT, center ARRAY<DOUBLE>")
    centers.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centers"))
    (index.assigned.write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(path, "assigned")))


def ivf_import(spark, path: str, id_col: str = "vec_id",
               vec_col: str = "embedding") -> IvfIndex:
    """Rebuild a probe-ready IvfIndex from an export — no retraining."""
    import os

    rows = (spark.read.parquet(os.path.join(path, "centers"))
            .orderBy("cell").collect())
    centers = [list(r.center) for r in rows]
    assigned = spark.read.parquet(os.path.join(path, "assigned"))
    return IvfIndex(centers, assigned, id_col=id_col, vec_col=vec_col)
