"""Streaming sinks — the reference's O1/O2/O3 output surface.

- Console/report sink (flink_stream_task1.py:75-85): the reference prints a
  fixed-width header once, then one padded row per closed session. Here the
  formatting lives in ``foreachBatch`` (never inside expressions — the
  reference prints from inside a map UDF, flink_stream_task2.py:98-100,
  which is a side-effecting anti-pattern Spark's model simply removes).
- Kafka sink (imported-but-never-wired in all three reference jobs,
  flink_stream_task2.py:1,109): implemented for real — alerts serialize to
  the same CSV wire format the source speaks, so the alerts topic is
  round-trippable.
- Memory sink: the test harness's window into append-mode output.
- Parquet sink: durable output with checkpointing, the batch-plane handoff.

The durable writers (Kafka, parquet) take ``checkpoint`` — exactly-once
bookkeeping the reference never enables (no ``enable_checkpointing``
anywhere; SURVEY.md §4.1). The two report writers return an unstarted
builder instead: callers set ``checkpointLocation`` on it before
``start()``. The console and memory sinks are debug surfaces and take
none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: task1's report column widths (flink_stream_task1.py:75,77-81).
REPORT_WIDTHS = (10, 15, 15)
REPORT_COLUMNS = ("user_id", "session_sum", "session_avg")

#: Cap on rows a report writer materializes on the driver per batch. A
#: watermark jump can close millions of sessions in ONE micro-batch; an
#: uncapped collect() would OOM the driver (the repo-wide "nothing
#: unbounded reaches the driver" discipline). Human-readable reports past
#: this size are unreadable anyway — durable output belongs in the
#: parquet/kafka sinks.
MAX_REPORT_ROWS = 10_000


def format_report_rows(rows, widths=REPORT_WIDTHS, columns=REPORT_COLUMNS,
                       truncate_ints: tuple[str, ...] = ()) -> str:
    """Fixed-width session report block (task1's layout: header, ruler,
    padded rows).

    ``truncate_ints`` names columns rendered as ``int(value)`` — task1
    truncates sum/avg to whole numbers in its report
    (flink_stream_task1.py:71-72) where task2/3 keep decimals; pass
    ``("session_sum", "session_avg")`` for pedantic task1 parity. The
    default keeps the 2-decimal rendering used across the repo's report
    path (operators/sessionize.py rounds, it doesn't truncate).
    """
    header = " ".join(f"{c:<{w}}" for c, w in zip(columns, widths))
    ruler = "=" * sum(widths)
    lines = [header, ruler]

    def cell(r, c):
        return str(int(r[c])) if c in truncate_ints else str(r[c])

    for r in rows:
        lines.append(" ".join(f"{cell(r, c):<{w}}" for c, w in zip(columns, widths)))
    return "\n".join(lines)


def format_grid(rows, columns) -> str:
    """Minimal tabulate-style grid (task2's alert table,
    flink_stream_task2.py:100) without the tabulate dependency."""
    cells = [[str(r[c]) for c in columns] for r in rows]
    widths = [
        max(len(c), *(len(row[i]) for row in cells)) if cells else len(c)
        for i, c in enumerate(columns)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    def fmt(vals):
        return "| " + " | ".join(v.ljust(w) for v, w in zip(vals, widths)) + " |"
    lines = [sep, fmt(list(columns)), sep]
    for row in cells:
        lines.append(fmt(row))
    lines.append(sep)
    return "\n".join(lines)


def _capped_rows(batch_df: DataFrame, columns, max_rows: int):
    """Driver-side materialization bounded at ``max_rows``: fetch one extra
    row to detect overflow, never the whole batch."""
    rows = batch_df.select(*columns).limit(max_rows + 1).collect()
    truncated = len(rows) > max_rows
    return rows[:max_rows], truncated


def make_session_report_batch_fn(max_rows: int = MAX_REPORT_ROWS):
    """Per-batch function behind :func:`session_report_writer` (factored
    out so tests can drive it with a plain batch DataFrame). The header
    prints once, before the first non-empty batch."""
    state = {"printed_header": False}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        rows, truncated = _capped_rows(batch_df, REPORT_COLUMNS, max_rows)
        if not rows:
            return
        if not state["printed_header"]:
            print("\n** Session Expiry Report ** (All UIDs Processed)")
            state["printed_header"] = True
        print(format_report_rows(rows))
        if truncated:
            print(f"... report truncated at {max_rows} rows this batch ...")

    return _write


def session_report_writer(df: DataFrame, max_rows: int = MAX_REPORT_ROWS):
    """foreachBatch writer printing task1's session-expiry report
    (flink_stream_task1.py:75-85), capped at ``max_rows`` rows per batch
    (truncation is announced). Returns the unstarted writer; the caller
    sets ``checkpointLocation`` and calls ``.start()``."""
    return (
        df.writeStream
        .foreachBatch(make_session_report_batch_fn(max_rows))
        .outputMode("append")
    )


def make_alert_grid_batch_fn(max_rows: int = MAX_REPORT_ROWS):
    """Per-batch function behind :func:`alert_grid_writer`."""
    columns = ("user_id", "session_sum", "session_avg")

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        rows, truncated = _capped_rows(batch_df, columns, max_rows)
        if not rows:
            return
        print("\n** Big Customers Session Report ** (Sessions >= threshold)")
        print(format_grid(rows, columns))
        if truncated:
            print(f"... grid truncated at {max_rows} rows this batch ...")

    return _write


def alert_grid_writer(df: DataFrame, max_rows: int = MAX_REPORT_ROWS):
    """foreachBatch writer printing task2's big-customer grid per batch
    (flink_stream_task2.py:98-100), capped at ``max_rows`` rows per batch."""
    return (
        df.writeStream
        .foreachBatch(make_alert_grid_batch_fn(max_rows))
        .outputMode("append")
    )


def console_sink(df: DataFrame, output_mode: str = "append",
                 truncate: bool = False) -> StreamingQuery:
    """Plain console sink (O1)."""
    return (
        df.writeStream.format("console")
        .option("truncate", str(truncate).lower())
        .outputMode(output_mode)
        .start()
    )


def memory_sink(df: DataFrame, name: str, output_mode: str = "append") -> StreamingQuery:
    """In-memory table sink — query results with
    ``spark.table(name)``. Test/debug only (driver-resident)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def kafka_sink(df: DataFrame, bootstrap_servers: str, topic: str,
               checkpoint: str, key_col: str = "user_id",
               output_mode: str = "append") -> StreamingQuery:
    """Kafka sink (O3) — the alerts topic the reference imports but never
    wires (flink_stream_task2.py:1,109). Serializes each row as a
    comma-joined string of its columns in frame order (an ALERT record
    schema, not the 4-field event wire format ``parse_csv_events`` reads —
    alert consumers parse against the alert frame's own schema), key =
    user id (generator1.py:24)."""
    cols = [c for c in df.columns]
    wire = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.concat_ws(",", *[F.col(c).cast("string") for c in cols]).alias("value"),
    )
    return (
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )


def parquet_sink(df: DataFrame, path: str, checkpoint: str,
                 output_mode: str = "append") -> StreamingQuery:
    """Durable parquet sink with checkpointed exactly-once file commits."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )
