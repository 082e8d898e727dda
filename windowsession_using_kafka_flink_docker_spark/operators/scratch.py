"""Private per-app scratch roots for index exports.

The persistence-roundtrip entries (IVF index, MinHash-LSH near-dup
index, BM25 postings index) export an index to parquet, re-import it,
and verify the probe equals from-scratch — the export needs a scratch
location that is per-application, unpredictable, and cleaned up as
soon as the entry's result is eagerly materialized.

Never a fixed world-writable path (r14 ADVICE: a predictable shared-tmp
location accumulates without bound across bench/test runs and is
spoofable on multi-user hosts).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

#: appId -> private scratch root (created once per app, 0700).
_SCRATCH_ROOTS: dict[str, str] = {}


def scratch_root(spark: SparkSession) -> str:
    """Private per-app scratch root: a ``mkdtemp`` (mode 0700,
    unpredictable suffix) under ``spark.graft.staging.dir`` if
    configured, else ``spark.local.dir``, else the system temp dir.
    Callers remove their export dir via :func:`drop_export` as soon as
    the result is eagerly materialized."""
    app = spark.sparkContext.applicationId
    root = _SCRATCH_ROOTS.get(app)
    if root is None or not os.path.isdir(root):
        base = (spark.conf.get("spark.graft.staging.dir", None)
                or spark.sparkContext.getConf()
                .get("spark.local.dir", tempfile.gettempdir())
                .split(",")[0])
        os.makedirs(base, exist_ok=True)
        root = tempfile.mkdtemp(prefix=f"graft_stage_{app}_", dir=base)
        _SCRATCH_ROOTS[app] = root
    return root


def drop_export(path: str) -> None:
    """Delete an index export once the entry's result is eagerly
    materialized (localCheckpoint) — the files are dead weight after."""
    shutil.rmtree(path, ignore_errors=True)
