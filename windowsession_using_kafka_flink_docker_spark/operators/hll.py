"""Portable HyperLogLog register pipeline — shared by the batch NDV
audit (plans/analytics.py ``hll_ndv_by_event_type``) and the streaming
register maintainer
(streaming/analytics_twins.py ``IncrementalHllMaintainer``), so
stream == batch is one code path.

Engine-agreement discipline (the repo's portable-hash recipe, same as
operators/dedup.py's MinHash pipeline): the hash is md5 of the key's
decimal string, truncated to 15 hex chars — a 60-bit nonnegative
BIGINT both Spark (``conv(substring(md5(x), 1, 15), 16, 10)``) and
DuckDB (``('0x' || substr(md5(x), 1, 15))::BIGINT``) compute
identically. The register value rho uses INTEGER/string ops only
(length of the binary representation — no log2, whose floor can
misround at power-of-two boundaries), the harmonic denominator is an
exact BIGINT sum of two-powers (max 512 * 2^52 = 2^61, inside int64),
and the estimate is ONE IEEE division of one precomputed double
constant by that integer, floor()ed identically on both engines.

RAW estimator by design: the small-range (linear-counting) correction
needs ``ln(m/v)``, whose last ulp is engine-dependent and can cross a
floor boundary — so the fold emits the exact register fill count
beside the raw estimate and the CONSUMER applies linear counting when
``raw <= 2.5 m`` (tests do, in Python). The register state is the
mergeable artifact — per-bucket MAX is a map-side partial combine, so
at 100 TB executors merge 512-register sketch states instead of
shuffling keys, and the streaming maintainer's state is bounded by
|key domain| x 512 rows regardless of stream volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_P = 9                      # 2^9 = 512 registers
HLL_M = 1 << HLL_P
HLL_WBITS = 60 - HLL_P         # suffix bits feeding rho
HLL_RMAX = HLL_WBITS + 1       # rho for w == 0
#: alpha_m * m^2 * 2^RMAX, one double literal shared by both engines.
HLL_C = (0.7213 / (1 + 1.079 / HLL_M)) * HLL_M * HLL_M * 2.0 ** HLL_RMAX
HLL_EMPTY_TERM = 1 << HLL_RMAX  # denominator term of an empty register


def hll_registers(df: DataFrame, key: str = "event_type",
                  id_col: str = "user_id") -> DataFrame:
    """One row per (key, bucket): the max rho observed — the full HLL
    register state, mergeable by per-bucket MAX (the groupBy plans a
    map-side partial max, so the shuffle carries register states)."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
               16, 10).cast("long")
    rows = (df.select(F.col(key), h.alias("_h"))
            .select(key,
                    (F.col("_h") % HLL_M).alias("_b"),
                    F.expr(f"_h div {HLL_M}").alias("_w")))
    rho = (F.when(F.col("_w") == 0, F.lit(HLL_RMAX))
           .otherwise(F.lit(HLL_RMAX) - F.length(F.bin(F.col("_w")))))
    return (rows.withColumn("_rho", rho)
            .groupBy(key, "_b")
            .agg(F.max("_rho").alias("_r")))


def hll_fold(regs: DataFrame, key: str = "event_type") -> DataFrame:
    """Fold a register frame to (key, filled_buckets, ndv_hll_raw):
    exact BIGINT harmonic denominator (empty registers contribute
    2^RMAX each), one IEEE division, floor. <= |keys| x 512 input
    rows — never fact-sized."""
    per = (regs.groupBy(key)
           .agg(F.sum(F.expr(f"shiftleft(1L, cast({HLL_RMAX} - _r AS INT))"))
                .alias("_dobs"),
                F.count(F.lit(1)).alias("_nb")))
    denom = (F.col("_dobs")
             + (F.lit(HLL_M) - F.col("_nb")) * F.lit(HLL_EMPTY_TERM))
    est_i = F.floor(F.lit(HLL_C) / denom.cast("double")).cast("long")
    return per.select(key,
                      F.col("_nb").alias("filled_buckets"),
                      est_i.alias("ndv_hll_raw"))
