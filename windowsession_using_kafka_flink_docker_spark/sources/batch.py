"""Batch file sources (parquet / CSV / JSON).

The reference consumes only Kafka (flink_stream_task1.py:13-19); batch file
scans are part of the extension surface (SURVEY.md §2.11) and the substrate
for every oracle-checked query. Scans stay fully declarative so Catalyst
gets predicate pushdown + column pruning for free — at 100 TB the difference
between scanning 2 columns and scanning 11 is the whole ballgame.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The star-schema + extension tables the test harness materializes.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


#: Timestamp columns per table — the harness's parquet writer has varied
#: across rounds (TIMESTAMP(NANOS) in early rounds, naive timestamp[us]
#: later), so normalize every variant to plain TimestampType carrying the
#: file's wall-clock as a UTC instant — exactly what DuckDB's reader sees.
_TS_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


#: Session settings that change what parquet schema inference returns
#: for the same files; a registered schema is valid only under the
#: values it was inferred with. (``nanosAsLong`` is one too, but
#: ``load_table`` sets it before every read.)
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: The schema registry: (applicationId, path) -> (stamp, raw inferred
#: schema). Metadata, not results, so it lives as long as the process
#: and ``clear_stage_caches()`` leaves it alone; a new application (a
#: stopped-and-restarted session) never sees the old entries.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, T.StructType]] = {}


def _stamp(spark: SparkSession, path: str) -> tuple | None:
    """What must be unchanged for a registered schema of ``path`` to
    hold: the files' ``(mtime_ns, size)`` — for a directory table, of
    every file below it, by relative name, so a file rewritten in place
    is noticed — plus the session's inference settings. None when
    ``path`` is not a local file or directory (no registry: Spark infers
    the schema, or reports the missing path, on every call)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            files: tuple = (st.st_mtime_ns, st.st_size)
        else:
            entries = []
            for root, _, names in os.walk(path):
                rel = os.path.relpath(root, path)
                for n in names:
                    e = os.stat(os.path.join(root, n))
                    entries.append((os.path.join(rel, n), e.st_mtime_ns,
                                    e.st_size))
            files = tuple(sorted(entries))
    except OSError:
        return None
    return files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def _read_parquet(spark: SparkSession,
                  path: str) -> tuple[DataFrame, T.StructType]:
    """``spark.read.parquet(path)`` and its raw schema, inferring the
    schema (one footer job) only the first time a table is read in this
    application or after its files or the inference settings changed;
    otherwise the registered schema is handed to the reader and no job
    runs."""
    stamp = _stamp(spark, path)
    key = (spark.sparkContext.applicationId, path)
    hit = _SCHEMAS.get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    raw = df.schema
    if stamp is not None:
        _SCHEMAS[key] = (stamp, raw)
    return df, raw


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table from a scale-factor directory.

    The schema is inferred once per Spark application and registered
    (``_read_parquet``); later calls pass it to the reader and run no
    inference job. A table is re-inferred when any of its files changes
    ``mtime``/size (a directory table is stamped file by file, so an
    in-place rewrite of one part file counts) or when a parquet
    inference setting of the session differs from the registered one.

    Normalizes timestamp columns to TimestampType (UTC instant), after
    every read, registered or not (the NTZ branch depends on the
    session time zone):
    - TIMESTAMP(NANOS) files read as int64 (spark.sql.legacy.parquet.
      nanosAsLong) are truncated ns → µs with exact integer arithmetic
      (`div 1000` — floor == truncate for the positive epochs here);
    - timestamp-without-timezone files (TIMESTAMP_NTZ) are pinned so the
      file's wall-clock IS the UTC wall-clock of the resulting instant,
      independent of spark.sql.session.timeZone. The NTZ->Timestamp cast
      alone interprets the wall-clock in the SESSION zone (a New York
      session would shift 12:00 -> 17:00Z), so we first convert_timezone
      the NTZ value from UTC into the session zone and let the cast undo
      that shift — net effect: instant == NTZ-as-UTC in any session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, raw = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in _TS_COLS.get(name, ()):
        field = raw[col]
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(
                col,
                F.to_timestamp(
                    F.convert_timezone(F.lit("UTC"), F.current_timezone(), F.col(col))
                ),
            )
    return df


def read_csv_events(spark: SparkSession, path: str) -> DataFrame:
    """Typed CSV scan with malformed-row drop (PERMISSIVE + null filter).

    Batch rendering of the reference's parse-and-filter front end
    (flink_stream_task1.py:21-36,45-46): rows that fail the 4-field
    (ts,user,session,payload) contract become nulls and are dropped, never
    errors.
    """
    schema = "ts TIMESTAMP, user_id BIGINT, transaction_id BIGINT, payload_value DOUBLE"
    df = spark.read.schema(schema).option("mode", "PERMISSIVE").csv(path)
    return df.where(
        "ts IS NOT NULL AND user_id IS NOT NULL AND "
        "transaction_id IS NOT NULL AND payload_value IS NOT NULL"
    )
