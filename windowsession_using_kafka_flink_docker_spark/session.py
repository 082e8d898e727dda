"""SparkSession factory with scale-oriented defaults.

The reference pins ``parallelism = 1`` (flink_stream_task1.py:10); we instead
let Spark parallelize and rely on AQE to right-size shuffles at runtime, which
is the behavior that survives a 1000-executor / 100 TB deployment. All knobs
here are plain public Spark SQL configs.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def _reuse_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). Before CPython 3.13
    each ``zipimporter`` then eagerly re-parses its whole archive, and a
    worker holds one importer per imported package of ``pyspark.zip``
    (1,328 entries, 14-18 importers): ~127 ms per call, ~0.08 ms with the
    stat check below (14 importers, CPython 3.11). An archive is re-read
    when its ``(st_mtime_ns, st_size)`` differs from the one seen at its
    last read here (or was never read here), so a rewritten archive still
    shows its new modules. 3.13+ already re-reads lazily; nothing is
    installed there. Runs at import, so every Python worker that
    unpickles an engine UDF installs it for its later tasks.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_reuses_unchanged", False):
        return
    read_at: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = stamp

    invalidate_caches._reuses_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reuse_unchanged_zip_directories()

# Defaults chosen for the local[32]/128GiB test harness but expressed so the
# same code is correct on a real cluster: AQE coalesces the 32→N shuffle
# partitions at runtime, maxPartitionBytes keeps scan tasks ~128MB (the size
# that amortizes task overhead without spilling at 100TB), and the broadcast
# threshold lets dimension tables (region/nation/customer at typical SFs)
# avoid shuffles entirely.
_DEFAULTS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Floor for AQE's coalesced partitions (parameterized; Spark default
    # 1m). With parallelismFirst (default on) AQE targets
    # max(totalBytes/parallelism, THIS), so on many-core nodes running
    # CPU-heavy window/HOF stages over MB-scale exchanges the 1 MiB floor
    # serializes the stage onto 1-2 tasks. At production shuffle sizes
    # (GB+) the floor is never the binding term, so lowering it only
    # affects the small-exchange regime; raise the env var on clusters
    # whose small-shuffle stages are I/O-bound rather than CPU-bound.
    # Full-bench A/B at sf0.1 (OPTIMIZATION_r17.md): 64k vs 1m = median
    # per-query ratio 0.93, sum 85.6 -> 79.7 s, worst regression +0.3 s.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize":
        os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pin the Arrow transfer batch size: the default (10k) lets pandas-UDF
    # stage timing drift with partition-size jitter — fixed batches keep
    # the vectorized kernels' per-batch work (and bench numbers) stable.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.shuffle.spill.compress": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "windowsession-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster, leave it unset and submit via spark-submit so the cluster
    manager decides.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
