"""Streaming twins for the analytics entries that are incremental by
construction. Every maintainer keeps a key-space-bounded state under a
versioned parquet directory, and each ``current*()`` presentation calls
the same helper the batch entry was refactored onto (``ewma_from_daily``,
``cusum_from_daily``, ``*_from_spend``, ``*_from_freq``,
``ndv_report_from_kmv_state``, ``cramers_report_from_cells``, ...), so
stream == batch is one code path, never a parallel implementation.

The fleet:

- on ``_PartialMaintainer``, whose state is a commutative partial that
  re-merges by one ``groupBy(keys)``: EWMA daily spend, distribution
  drift, daily revenue (CUSUM + seasonal backtest on one calendar-bounded
  state), user spend (Gini, Welch-t and Mann-Whitney on one user-bounded
  state), exact token frequencies (heavy hitters + Zipf), ANALYZE-TABLE
  column statistics (KMV), the R x C contingency, supplier HHI, source
  mix, the bounded quantile sample, epoch set membership, rank-test
  counts, Q13 order counts, Q9 profit, the trend grid (OLS, ACF,
  Theil-Sen, Mann-Kendall), CUPED units, feature-bucket moments, HLL
  registers and the JPEG fingerprint membership; the event rollup in
  streaming/rollup.py is one more;
- explicit classes, because their state is not a commutative partial:
  the clamped ledger (in-order prefix scan), the fixed-memory
  CMS+candidate-pool token state (two states, the pool scored against
  the merged sketch) and token-budget packing (the delta reads the
  previous per-shard tails).

Every batch entry here reduces the fact stream to key-space-bounded
mergeable partials before any derivation:

- EWMA: per-(user, day) spend sums. The clamped-geometric-weight EWMA
  (plans/analytics.py ewma_from_daily) is a pure function of that daily
  frame, so the maintained state is the daily partials and presentation
  re-derives the smoother — a new day's arrival re-weights every prior
  day, which NO per-user scalar state could track, but the daily partial
  table can, at |users| x |days| rows regardless of fact volume.
- drift: per-event_type conditional counts against the FIXED half-month
  boundary. Exact integers, so the maintained report equals the batch
  report bit-for-bit under any batch interleaving.

Versioning/replay is owned by ``_VersionedState``: version
``v{batch_id}`` derived from the newest version strictly below
``batch_id``, overwritten on replay, pruned to current+previous, with the
coupled-lifecycle guard against a fresh checkpoint over stale state.
Every maintainer's state is one: the twins here, the rollup, the session
store, the SCD2 dimension (streaming/scd.py) and the join view's three
parts (streaming/joinview.py, whose bucketed sides override how a
version is laid down, read and pruned).
``_IndexMaintainer`` is the same discipline for the append-only indexes
(BM25 postings, near-dup LSH): one increment per batch id.
``streaming_maintenance`` wires any maintainer to a stream.
"""

from __future__ import annotations

import os
import re
import shutil
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    cents,
)
from windowsession_using_kafka_flink_docker_spark.operators.versioned_index import (
    increments,
    next_increment,
)


class _VersionedState:
    """Versioned-parquet state shared by every maintainer (see
    streaming/rollup.py for the replay-safety argument).

    Layout: ``state_dir/v=<batch_id>/`` parquet dirs plus the
    ``_schema.txt`` stamp. No pointer file is needed — max(version with
    _SUCCESS) is the pointer, and an interrupted write of v{N} is re-done
    wholesale on replay of batch N (parquet overwrite), so readers never
    observe a torn state.

    An owner whose columns come from its input (SCD2's key and
    attributes, the join view's payloads) passes no ``schema``: it is
    then the stamp's, else the newest version's parquet footer, else the
    first frame ``write()`` receives. ``_put``/``_drop`` are the one
    place a version is laid down and pruned; the join view's bucketed
    sides override them.
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 schema: str | None = None):
        self.spark = spark
        self.state_dir = state_dir
        self.schema = schema
        os.makedirs(state_dir, exist_ok=True)
        # Schema stamp (round-13 review finding): resuming a state_dir
        # written under a DIFFERENT maintainer schema must error, not
        # silently project missing columns to NULL (spark.read.schema
        # does the latter — e.g. pre-r13 trend state had `_sum DOUBLE`
        # where the current schema reads `y BIGINT`, and a silent
        # resume would NULL every carried cell).
        self._check_stamp(state_dir)

    _STAMP = "_schema.txt"

    @staticmethod
    def _ddl(schema: StructType) -> str:
        return ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in schema.fields)

    def _check_stamp(self, directory: str) -> None:
        path = os.path.join(directory, self._STAMP)
        if os.path.exists(path):
            with open(path) as fh:
                stamped = fh.read().strip()
            if self.schema is None:
                self.schema = stamped
            elif stamped != self.schema:
                raise ValueError(
                    f"state under {directory} was written with schema "
                    f"{stamped!r}, which does not match this "
                    f"maintainer's {self.schema!r}; refusing to resume "
                    "(a schema.read over it would silently NULL "
                    "missing columns)")
            return
        # No stamp (r13 ADVICE): every pre-stamp state_dir looks exactly
        # like this — including the pre-r13 trend state whose `_sum
        # DOUBLE` motivated the guard. Silently passing would let a
        # schema.read NULL every carried cell and the next write() would
        # stamp the NEW schema over it, permanently masking the
        # corruption. Verify the newest version's actual parquet footer
        # instead; stamp-on-first-write only for genuinely empty dirs.
        versions = self._versions_under(directory)
        if not versions:
            return
        footer = self.spark.read.parquet(
            os.path.join(directory, f"v={versions[-1]}")).schema
        if self.schema is None:
            self.schema = self._ddl(footer)
        elif (sorted((f.name, f.dataType) for f in footer.fields)
              != sorted((f.name, f.dataType)
                        for f in StructType.fromDDL(self.schema).fields)):
            raise ValueError(
                f"unstamped state under {directory} has parquet footer "
                f"schema {footer.simpleString()}, which does not match "
                f"this maintainer's {self.schema!r}; refusing to resume "
                "(a schema.read over it would silently NULL missing "
                "columns)")
        # Footer verified — legalize the dir so later opens take the
        # cheap stamp path.
        self._write_stamp(directory)

    def _write_stamp(self, directory: str) -> None:
        path = os.path.join(directory, self._STAMP)
        if not os.path.exists(path):
            with open(path, "w") as fh:
                fh.write(self.schema)

    @staticmethod
    def _versions_under(directory: str) -> list[int]:
        out = []
        for name in os.listdir(directory):
            if name.startswith("v=") and os.path.exists(
                    os.path.join(directory, name, "_SUCCESS")):
                out.append(int(name[2:]))
        return sorted(out)

    def versions(self) -> list[int]:
        return self._versions_under(self.state_dir)

    def _path(self, version: int) -> str:
        return os.path.join(self.state_dir, f"v={version}")

    def read(self, version: int) -> DataFrame:
        return self.spark.read.schema(self.schema).parquet(self._path(version))

    def current(self) -> DataFrame:
        versions = self.versions()
        if not versions:
            return self.spark.createDataFrame([], self.schema)
        return self.read(versions[-1])

    def latest_before(self, batch_id: int) -> DataFrame | None:
        versions = [v for v in self.versions() if v < batch_id]
        return self.read(versions[-1]) if versions else None

    def guard(self, batch_id: int) -> None:
        # A fresh checkpoint dir (batch ids restart at 0) against an
        # existing state_dir would silently rebase on nothing while
        # versions() keeps serving the old run's higher-numbered state.
        # batch_id == newest version is legal: that is the replay case.
        versions = self.versions()
        if versions and versions[-1] > batch_id:
            raise ValueError(
                f"state_dir {self.state_dir} already holds version "
                f"v={versions[-1]} > incoming batch_id {batch_id}; "
                "checkpoint_dir and state_dir must be reset together")

    def _put(self, version: int, df: DataFrame) -> None:
        df.coalesce(1).write.mode("overwrite").parquet(self._path(version))

    def _drop(self, version: int) -> None:
        shutil.rmtree(self._path(version), ignore_errors=True)

    def write(self, batch_id: int, df: DataFrame) -> None:
        if self.schema is None:
            self.schema = self._ddl(df.schema)
        self._write_stamp(self.state_dir)
        self._put(batch_id, df)
        # Keep current + previous: replay needs only the newest version
        # strictly below a re-run batch, and the engine never re-delivers
        # batches older than the last committed one.
        for v in self.versions():
            if v < batch_id - 1:
                self._drop(v)

    # -- persistence roundtrip (r12 VERDICT item 5) --------------------
    #
    # The state already LIVES as versioned parquet, so a same-dir
    # restart resumes for free: a new maintainer instance over the same
    # state_dir reads the newest version and the guard accepts any
    # batch_id >= it. export/import add the cross-location half — a
    # durable snapshot a restart at 100 TB restores from, so recovery
    # re-reads KBs-to-GBs of state instead of reseeding from the full
    # fact table.

    def export_to(self, path: str) -> int:
        """Snapshot the newest state version (data + its batch version,
        carried in the directory name) to ``path``. Returns the
        exported version. Stamp-before-data (r13 ADVICE): an export
        interrupted after the stamp leaves a snapshot with no _SUCCESS
        version, which import_from rejects; the old data-then-stamp
        order left a stamp-less snapshot that imported unverified."""
        versions = self.versions()
        if not versions:
            raise ValueError(f"no state versions in {self.state_dir}")
        v = versions[-1]
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, self._STAMP), "w") as fh:
            fh.write(self.schema)
        self.read(v).write.mode("overwrite").parquet(
            os.path.join(path, f"v={v}"))
        return v

    def import_from(self, path: str) -> int:
        """Adopt the newest exported snapshot under ``path`` into this
        state dir (which must be behind it — the guard's monotonicity
        contract). The next merge_batch continues from the snapshot's
        batch version exactly as an uninterrupted run would."""
        if not os.path.exists(os.path.join(path, self._STAMP)):
            # r13 ADVICE: a snapshot with data but no stamp is a torn
            # export (pre-fix write order) or not an export at all —
            # error rather than adopt unverified state; re-exporting is
            # cheap.
            raise ValueError(
                f"snapshot under {path} has no {self._STAMP}; the export "
                "was interrupted before the stamp write or the path is "
                "not an exported snapshot — re-export from a live state "
                "dir")
        versions = self._versions_under(path)
        if not versions:
            raise ValueError(f"no exported state snapshot under {path}")
        self._check_stamp(path)
        v = max(versions)
        self.guard(v)
        df = self.spark.read.schema(self.schema).parquet(
            os.path.join(path, f"v={v}"))
        self.write(v, df)
        return v


class _PartialMaintainer:
    """A maintainer whose state is a commutative, replay-safe partial.

    Subclasses declare the state ``_SCHEMA``, the merge ``_KEYS`` and
    ``delta()`` (one micro-batch reduced to partials in the state
    schema); this class owns the guard, the replay-safe base read, the
    union and the versioned write. The default ``merge()`` sums every
    non-key column back to its state type; a subclass whose partials
    fold another way (min/max, k-min sets, set union) overrides it.
    """

    _SCHEMA: str
    _KEYS: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, state_dir: str):
        self.state = _VersionedState(spark, state_dir, self._SCHEMA)

    def delta(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    @cached_property
    def _sums(self) -> list[Column]:
        # built once per instance: parsing the schema is a JVM round trip
        return [F.sum(f.name).cast(f.dataType.simpleString()).alias(f.name)
                for f in StructType.fromDDL(self._SCHEMA).fields
                if f.name not in self._KEYS]

    def merge(self, partials: DataFrame) -> DataFrame:
        return partials.groupBy(*self._KEYS).agg(*self._sums)

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.state.guard(batch_id)
        delta = self.delta(batch_df)
        prev = self.state.latest_before(batch_id)
        merged = prev.unionByName(delta) if prev is not None else delta
        self.state.write(batch_id, self.merge(merged))


class _IndexMaintainer:
    """A maintainer whose state is a versioned index: one ``inc=<batch_id>``
    increment per micro-batch (operators/versioned_index.py), so a
    crash-replayed batch overwrites its own increment in place.

    Subclasses declare ``_GUARD`` (the component whose newest increment
    the guard and the compaction trigger read), ``_append()`` and
    ``compact()``; this class owns the guard, the empty-batch skip and the
    count-triggered fold.
    """

    _GUARD: str

    def __init__(self, spark: SparkSession, index_dir: str,
                 compact_every: int | None = None):
        """``compact_every=N`` folds the index whenever the increment
        count reaches N, INSIDE the foreachBatch thread right after the
        append — quiescent by construction, because that thread is the
        index's only writer. The just-written newest increment stays
        un-folded (the compact contract), so a crash between the fold and
        the checkpoint commit replays a batch whose own increment is still
        overwritable in place. Without it a long-running stream only
        compacts at restart and the per-query read amplification grows
        linearly with uptime (r15 VERDICT item 5)."""
        self.spark = spark
        self.index_dir = index_dir
        self.compact_every = compact_every

    def _append(self, batch_df: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def compact(self) -> int:
        raise NotImplementedError

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # The _VersionedState.guard, index-shaped (r15 review finding): a
        # RESET checkpoint against a kept index dir restarts batch ids at
        # 0, and inc=00000 — which after a compaction holds the folded
        # FULL history — would be silently overwritten by one batch.
        # A replay of the newest batch (inc == batch_id) still passes.
        newest = next_increment(self.index_dir, self._GUARD) - 1
        if newest > batch_id:
            raise ValueError(
                f"index_dir {self.index_dir} already holds increment "
                f"{newest} > incoming batch_id {batch_id}; "
                "checkpoint_dir and index_dir must be reset together")
        # An empty micro-batch writes no increment: it would be
        # value-neutral but adds empty directories per idle trigger for
        # the reader to list.
        if batch_df.isEmpty():
            return
        self._append(batch_df, batch_id)
        if self.compact_every and len(
                increments(self.index_dir, self._GUARD)) >= self.compact_every:
            folded = self.compact()
            if folded:
                print(f"{type(self).__name__}: compacted {folded} "
                      f"increment(s) (compact_every={self.compact_every})")


def streaming_maintenance(stream: DataFrame, maintainer,
                          checkpoint_dir: str) -> StreamingQuery:
    """Run ``maintainer.merge_batch`` on every micro-batch of ``stream``.
    The sink emits nothing: all state lives in the maintainer's versioned
    table. The query is named after the maintainer class
    (``IncrementalDailyRevenueMaintainer`` -> ``daily_revenue_maintenance``)."""
    stem = re.sub(r"^Incremental|Maintainer$", "", type(maintainer).__name__)
    name = re.sub(r"(?<!^)(?=[A-Z])", "_", stem).lower()
    return (stream.writeStream
            .queryName(f"{name}_maintenance")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(maintainer.merge_batch)
            .start())


class IncrementalEwmaMaintainer(_PartialMaintainer):
    """Maintains per-(user, day) spend partials; ``current()`` derives
    the clamped-exponent EWMA exactly as the driver-oracled batch entry
    does (same ewma_from_daily core, same cent rounding)."""

    _SCHEMA = "user_id BIGINT, d DATE, _sum DOUBLE"
    _KEYS = ("user_id", "d")

    def delta(self, batch_df: DataFrame) -> DataFrame:
        return (batch_df
                .groupBy("user_id", F.to_date("ts").alias("d"))
                .agg(F.sum("value").alias("_sum")))

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            ewma_from_daily,
        )
        daily = self.state.current().select(
            "user_id", "d",
            cents("_sum").alias("cents"))
        return ewma_from_daily(daily)


class IncrementalDriftMaintainer(_PartialMaintainer):
    """Maintains per-event_type conditional counts against the fixed
    half boundary; ``current()`` is bit-identical to the batch
    distribution_drift_report presentation (exact integer counts in,
    scaled-floor shares out)."""

    _SCHEMA = "event_type STRING, n_a BIGINT, n_b BIGINT"
    _KEYS = ("event_type",)

    def __init__(self, spark: SparkSession, state_dir: str,
                 boundary: str = "2024-01-15"):
        super().__init__(spark, state_dir)
        self.boundary = boundary

    def delta(self, batch_df: DataFrame) -> DataFrame:
        is_a = F.to_date("ts") <= F.lit(self.boundary).cast("date")
        return batch_df.groupBy("event_type").agg(
            F.sum(is_a.cast("long")).alias("n_a"),
            F.sum((~is_a).cast("long")).alias("n_b"))

    def current(self) -> DataFrame:
        counts = self.state.current()
        tot = counts.agg(F.sum("n_a").alias("t_a"),
                         F.sum("n_b").alias("t_b"))
        p = F.col("n_a") / F.col("t_a").cast("double")
        q = F.col("n_b") / F.col("t_b").cast("double")
        return counts.crossJoin(F.broadcast(tot)).select(
            "event_type", "n_a", "n_b",
            F.floor(p * 10000).cast("long").alias("p_e4"),
            F.floor(q * 10000).cast("long").alias("q_e4"),
            F.floor(F.abs(p - q) * 10000).cast("long").alias("abs_drift_e4"),
        )


class IncrementalLedgerMaintainer:
    """Streaming twin of ``clamped_running_balance`` — the third
    analytics maintainer, and the interesting one: the clamp
    b_t = max(0, b_{t-1} + x_t) is NON-associative, so no finite
    commutative partial exists. What IS mergeable under IN-ORDER
    arrival (the ledger assumption: each user's events arrive in
    event-time order across batches, which an append-only ledger
    stream satisfies) is the prefix-scan state
    ``(cum_end, min_prefix, peak, n, credits, debits)``:

        cum_AB      = cum_A + cum_B
        minpre_AB   = min(minpre_A, cum_A + minpre_B)
        bal_t (in B) = (cum_A + cum_B_t) - min(0, minpre_A,
                                               cum_A + minpre_B_t)
        peak_AB     = max(peak_A, max_t bal_t)

    so each micro-batch needs ONE per-user window over its own rows
    plus a join against the per-user scalar state — never a re-scan of
    history. current() derives the same columns as the driver-oracled
    batch entry (final balance = cum_end - min(0, min_prefix)).
    Versioning/replay/prune/guard are the shared scheme.
    """

    _SCHEMA = ("user_id BIGINT, n_tx BIGINT, credits_cents BIGINT, "
               "debits_cents BIGINT, cum_end BIGINT, min_prefix BIGINT, "
               "peak_cents BIGINT")

    def __init__(self, spark: SparkSession, state_dir: str):
        self.state = _VersionedState(spark, state_dir, self._SCHEMA)

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            ledger_deltas,
        )

        self.state.guard(batch_id)
        ledger = ledger_deltas(batch_df)
        w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
        cum_b = F.sum("delta_cents").over(w)
        # the running min follows the EVENT order: both scans derive
        # from the same ordered window in one projection
        rows = ledger.select(
            "user_id", "delta_cents",
            cum_b.alias("cum_b"),
            F.min(cum_b).over(w).alias("minpre_b"))

        prev = self.state.latest_before(batch_id)
        if prev is None:
            prev = self.state.spark.createDataFrame([], self._SCHEMA)
        p = prev.select(
            "user_id", F.col("n_tx").alias("p_n"),
            F.col("credits_cents").alias("p_cr"),
            F.col("debits_cents").alias("p_db"),
            F.col("cum_end").alias("p_cum"),
            F.col("min_prefix").alias("p_min"),
            F.col("peak_cents").alias("p_peak"))
        joined = rows.join(p, "user_id", "left").select(
            "user_id", "delta_cents", "cum_b", "minpre_b", "p_min",
            F.coalesce("p_cum", F.lit(0)).alias("p_cum"),
            F.coalesce("p_n", F.lit(0)).alias("p_n"),
            F.coalesce("p_cr", F.lit(0)).alias("p_cr"),
            F.coalesce("p_db", F.lit(0)).alias("p_db"),
            F.coalesce("p_peak", F.lit(0)).alias("p_peak"))
        # global prefix min at row t = min(state min_prefix, state cum +
        # batch prefix min); NULL state min means "no prior rows"
        gmin = F.least(
            F.coalesce(F.col("p_min"),
                       F.col("p_cum") + F.col("minpre_b")),
            F.col("p_cum") + F.col("minpre_b"))
        bal = ((F.col("p_cum") + F.col("cum_b"))
               - F.least(F.lit(0).cast("long"), gmin))
        touched = joined.groupBy("user_id").agg(
            (F.max("p_n") + F.count(F.lit(1))).cast("long").alias("n_tx"),
            (F.max("p_cr")
             + F.sum(F.when(F.col("delta_cents") > 0,
                            F.col("delta_cents")).otherwise(0)))
            .cast("long").alias("credits_cents"),
            (F.max("p_db")
             + F.sum(F.when(F.col("delta_cents") < 0,
                            -F.col("delta_cents")).otherwise(0)))
            .cast("long").alias("debits_cents"),
            (F.max("p_cum") + F.sum("delta_cents")).cast("long")
            .alias("cum_end"),
            F.min(gmin).cast("long").alias("min_prefix"),
            F.greatest(F.max("p_peak"), F.max(bal)).cast("long")
            .alias("peak_cents"))
        untouched = prev.join(rows.select("user_id").distinct(),
                              "user_id", "left_anti")
        self.state.write(batch_id, untouched.unionByName(touched))

    def current(self) -> DataFrame:
        s = self.state.current()
        return s.select(
            "user_id", "n_tx", "credits_cents", "debits_cents",
            F.col("peak_cents").alias("peak_balance_cents"),
            (F.col("cum_end")
             - F.least(F.lit(0).cast("long"), F.col("min_prefix")))
            .cast("long").alias("final_balance_cents"))


class IncrementalDailyRevenueMaintainer(_PartialMaintainer):
    """Maintains per-day order-revenue cent partials; ONE bounded state
    (|calendar days| rows regardless of order volume) serves TWO
    driver-oracled presentations: ``current_changepoint()`` re-derives
    cusum_changepoint_daily_revenue and ``current_backtest()``
    seasonal_naive_backtest, both through the same *_from_daily helpers
    the batch entries use — stream == batch is the same code path by
    construction. Cents merge as exact BIGINTs, so the maintained daily
    frame is bit-identical to the batch aggregate under any batch
    interleaving (unlike the EWMA state, no presentation-side rounding
    order can differ either: the partials are already integers)."""

    _SCHEMA = "d TIMESTAMP, cents BIGINT"
    _KEYS = ("d",)

    def delta(self, batch_df: DataFrame) -> DataFrame:
        return (batch_df
                .groupBy(F.col("o_orderdate").alias("d"))
                .agg(F.sum(cents("o_totalprice")).cast("long").alias("cents")))

    def current_changepoint(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            cusum_from_daily,
        )
        return cusum_from_daily(self.state.current())

    def current_backtest(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            backtest_from_daily,
        )
        return backtest_from_daily(self.state.current())


class IncrementalUserSpendMaintainer(_PartialMaintainer):
    """Maintains per-user spend partials; ONE user-space-bounded state
    serves the whole spend-statistics family: ``current_gini()``,
    ``current_welch()`` and ``current_mannwhitney()`` re-derive the
    driver-oracled gini_spend_inequality / welch_t_spend_ab /
    mann_whitney_spend_ab through the same *_from_spend helpers the
    batch entries use. The state keeps raw DOUBLE sums (like the EWMA
    maintainer) and the presentations quantize to cents at read time —
    merge-order fp noise (~1e-13 on 2-decimal inputs) is far below the
    half-cent rounding threshold, which is the same argument that makes
    the batch entries' own groupBy sums hash-stable."""

    _SCHEMA = "user_id BIGINT, _sum DOUBLE"
    _KEYS = ("user_id",)

    def delta(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("user_id").agg(F.sum("value").alias("_sum"))

    def _spend(self) -> DataFrame:
        return self.state.current().select(
            "user_id",
            cents("_sum").alias("cents"))

    def current_gini(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            gini_from_spend,
        )
        return gini_from_spend(self._spend())

    def current_welch(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            welch_from_spend,
        )
        return welch_from_spend(self._spend())

    def current_mannwhitney(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            mann_whitney_from_spend,
        )
        return mann_whitney_from_spend(self._spend())


class IncrementalTokenFrequencyMaintainer(_PartialMaintainer):
    """Maintains the corpus (token, n) frequency table from a documents
    stream; ``current_heavy_hitters()`` and ``current_zipf()`` re-derive
    the driver-oracled heavy_hitter_tokens / zipf_rank_frequency through
    the same ``*_from_freq`` helpers the batch entries use. Counts are
    exact BIGINTs, so the maintained table is bit-identical to the batch
    aggregate under any batch interleaving. State is vocabulary-bounded
    — sublinear in corpus size (Heaps' law); at extreme scale the same
    presentations run over a CMS+heap top-K state instead
    (operators/cms.py), trading the exact tail for fixed memory."""

    _SCHEMA = "token STRING, n BIGINT"
    _KEYS = ("token",)

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            token_freq_from_docs,
        )
        return token_freq_from_docs(batch_df)

    def current_heavy_hitters(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            heavy_hitters_from_freq,
        )
        return heavy_hitters_from_freq(self.state.current())

    def current_zipf(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            zipf_from_freq,
        )
        return zipf_from_freq(self.state.current())


class IncrementalTableStatsMaintainer(_PartialMaintainer):
    """Streaming twin of ``orders_column_ndv_kmv`` — maintainer #10, the
    ANALYZE-TABLE state: per-column exact row/null counters, typed
    min/max, and the k-min set of distinct value hashes (KMV). Every
    field is a bounded mergeable partial — counters sum, typed min/max
    fold, and the k smallest hashes of a union are the k smallest of the
    k-min sets' union — so state is 4 rows x (7 scalars + a <=32-double
    array) REGARDLESS of order volume: this is exactly why the catalog
    entry sketches NDV instead of counting it (an exact streaming NDV
    would need per-column distinct-value state, unbounded). Both the
    per-batch reduction and the presentation are the batch entry's own
    ``orders_kmv_state`` / ``ndv_report_from_kmv_state``, so stream ==
    batch is one code path; hashes are md5-prefix values replayed
    bit-identically by the DuckDB oracle, and set semantics on distinct
    hashes make the merged k-min set equal the batch single-pass set
    exactly under any batch interleaving."""

    def __init__(self, spark: SparkSession, state_dir: str):
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            KMV_STATS_STATE_SCHEMA,
        )
        self._SCHEMA = KMV_STATS_STATE_SCHEMA
        super().__init__(spark, state_dir)

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            orders_kmv_state,
        )
        return orders_kmv_state(batch_df)

    def merge(self, partials: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            kmin_merge_agg,
        )
        return partials.groupBy("column_name").agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_nulls").cast("long").alias("n_nulls"),
            F.min("min_num").alias("min_num"),
            F.max("max_num").alias("max_num"),
            F.min("min_str").alias("min_str"),
            F.max("max_str").alias("max_str"),
            kmin_merge_agg())

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            ndv_report_from_kmv_state,
        )
        return ndv_report_from_kmv_state(self.state.current())


class IncrementalContingencyMaintainer(_PartialMaintainer):
    """Streaming twin of ``cramers_v_status_priority`` — maintainer #11,
    the R x C contingency state: one exact BIGINT count per observed
    (o_orderstatus, o_orderpriority) cell, so state is bounded by the
    CATEGORY DOMAIN (<= 3 x 5 rows here, |R|·|C| in general) regardless
    of order volume — the textbook mergeable sufficient statistic for
    every margin/total/chi-square the report needs. Counts sum under
    merge and are exact integers, so the maintained cell frame is
    bit-identical to the batch aggregate under any batch interleaving;
    ``current()`` re-derives the full driver-oracled report through the
    batch entry's own ``cramers_report_from_cells`` helper — stream ==
    batch is one code path, never a parallel implementation."""

    _SCHEMA = "o_orderstatus STRING, o_orderpriority STRING, n BIGINT"
    _KEYS = ("o_orderstatus", "o_orderpriority")

    def delta(self, batch_df: DataFrame) -> DataFrame:
        return (batch_df.groupBy(*self._KEYS)
                .agg(F.count(F.lit(1)).cast("long").alias("n")))

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            cramers_report_from_cells,
        )
        return cramers_report_from_cells(self.state.current())


class IncrementalHhiMaintainer(_PartialMaintainer):
    """Streaming twin of ``supplier_hhi_by_parttype`` — maintainer #12,
    the market-concentration state: one exact BIGINT quantity partial
    per (p_type, l_suppkey) pair, so state is bounded by |types| x
    |suppliers| regardless of lineitem volume. This maintainer composes
    the STREAM-STATIC ENRICHMENT pattern with the partial-merge scheme:
    each micro-batch of lineitem facts is joined to the broadcast part
    dimension (held by the maintainer — the dimension is static, the
    fact stream is not) before reducing, through the batch entry's own
    ``hhi_qty_partials``; quantities are integers that sum under merge,
    so the maintained partials — and the HHI/total/supplier-count report
    ``current()`` derives through the shared ``hhi_report_from_qty`` —
    are bit-identical to the batch aggregate under any interleaving."""

    _SCHEMA = "p_type STRING, l_suppkey BIGINT, q BIGINT"
    _KEYS = ("p_type", "l_suppkey")

    def __init__(self, spark: SparkSession, state_dir: str,
                 part: DataFrame):
        super().__init__(spark, state_dir)
        self.part = part.select("p_partkey", "p_type")

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            hhi_qty_partials,
        )
        return hhi_qty_partials(batch_df, self.part)

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            hhi_report_from_qty,
        )
        return hhi_report_from_qty(self.state.current())


class IncrementalSourceMixMaintainer(_PartialMaintainer):
    """Streaming twin of ``source_mix_report`` — maintainer #13, the
    RefinedWeb-style domain-mix state: per-(source, lang) doc and token
    counts, so state is bounded by |sources| x |langs| regardless of
    corpus size — the accounting every training-data pipeline watches
    to catch a silently shifting input mix. Counts are exact BIGINTs
    that sum under merge, so the maintained partials — and the doc
    count / token count / language spread / token share report
    ``current()`` derives through the batch entry's own
    ``source_mix_from_partials`` — are bit-identical to the batch
    aggregate under any batch interleaving (the share division runs on
    the same exact integers either way)."""

    _SCHEMA = "source STRING, lang STRING, n_docs BIGINT, n_tokens BIGINT"
    _KEYS = ("source", "lang")

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            source_mix_partials,
        )
        return source_mix_partials(batch_df)

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            source_mix_from_partials,
        )
        return source_mix_from_partials(self.state.current())


class BoundedTokenFrequencyMaintainer:
    """Maintainer #14 — the FIXED-MEMORY heavy-hitter state the exact
    token-frequency maintainer's docstring promises as its extreme-scale
    fallback: where even Heaps-law vocabulary state is too big, keep a
    Count-Min sketch (depth x width exact BIGINT cell counts) plus a
    K-token candidate pool, and nothing else — state is d*w + K rows at
    ANY corpus size, with the one-sided CMS guarantee (estimate >= true
    count, excess <= collision mass ~ (e/width)*N w.h.p.).

    Merge semantics: CMS is LINEAR — cell counts sum — so the merged
    sketch is BIT-IDENTICAL to the single-pass sketch under any batch
    interleaving (pinned in tests); the candidate pool is the union of
    the previous pool and the batch's top-M tokens, re-scored against
    the merged sketch and pruned to K under the deterministic
    (estimate DESC, token) order. A true heavy hitter is always a
    heavy hitter of SOME batch prefix, so it enters the pool; retention
    is strong but NOT absolute — CMS estimates are one-sided inflated,
    so a lighter token whose cells collide with heavy mass can out-score
    and evict a true heavy hitter when the pool is tight. What the tests
    pin is therefore the empirical guarantee: a recall floor vs the
    driver-oracled exact top-50, not zero-miss retention.
    ``current_heavy_hitters()`` presents the
    top-50 through the exact maintainer's own ``heavy_hitters_from_freq``
    shape, with the CMS estimate standing in for the exact count —
    recall vs the driver-oracled exact top-50 is floor-pinned in tests,
    the same audit discipline as the MinHash/SimHash recall entries."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 depth: int = 4, width: int = 4096,
                 k_candidates: int = 400, m_batch: int = 400):
        self.depth, self.width = depth, width
        self.k, self.m = k_candidates, m_batch
        self.sketch = _VersionedState(
            spark, os.path.join(state_dir, "sketch"),
            "r INT, bucket BIGINT, n BIGINT")
        self.cand = _VersionedState(
            spark, os.path.join(state_dir, "candidates"),
            "token STRING, n BIGINT")

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from windowsession_using_kafka_flink_docker_spark.operators.cms import (
            cms_build,
            cms_estimate,
        )
        from windowsession_using_kafka_flink_docker_spark.operators.text_analysis import (
            normalized_text,
        )
        self.sketch.guard(batch_id)
        self.cand.guard(batch_id)
        toks = (batch_df.select(
            F.explode(F.split(normalized_text("text"), " "))
            .alias("token"))
            .where(F.col("token") != ""))
        delta = (cms_build(toks, depth=self.depth, width=self.width)
                 .select(F.col("r").cast("int").alias("r"),
                         F.col("bucket").cast("long").alias("bucket"),
                         F.col("n").cast("long").alias("n")))
        prev = self.sketch.latest_before(batch_id)
        merged = (prev.unionByName(delta) if prev is not None else delta)
        merged = (merged.groupBy("r", "bucket")
                  .agg(F.sum("n").cast("long").alias("n")))
        # materialize the merged sketch before the estimate joins below
        # read it back (the estimate must score against THIS version)
        self.sketch.write(batch_id, merged)
        sketch_now = self.sketch.read(batch_id)

        batch_top = (toks.groupBy("token")
                     .agg(F.count(F.lit(1)).alias("_bn"))
                     .orderBy(F.desc("_bn"), "token").limit(self.m)
                     .select("token"))
        prev_cand = self.cand.latest_before(batch_id)
        pool = batch_top if prev_cand is None else (
            prev_cand.select("token").unionByName(batch_top).distinct())
        scored = cms_estimate(pool, sketch_now, depth=self.depth,
                              width=self.width, out_col="n")
        pruned = (scored.select("token", F.col("n").cast("long").alias("n"))
                  .orderBy(F.desc("n"), "token").limit(self.k))
        self.cand.write(batch_id, pruned)

    def current_heavy_hitters(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            heavy_hitters_from_freq,
        )
        return heavy_hitters_from_freq(self.cand.current())


class BoundedQuantileMaintainer(_PartialMaintainer):
    """Streaming maintainer #15 — mergeable quantile state, the
    bounded-memory sibling of the exact-median entries and the streaming
    half of the driver-oracled ``sampled_median_audit``: per order
    priority, an exact row counter plus the PRICE_SAMPLE_K
    lexicographically-smallest (md5-hash, cents, okey) triples — a
    deterministic uniform sample whose bottom-k by hash merges exactly
    like a KMV sketch (k smallest of a union of bottom-k sets = k
    smallest of the union; the triple is unique per order row, so no
    dedup is needed). State is |priorities| x (1 counter + a <=k struct
    array) REGARDLESS of order volume — this is exactly why the audit
    entry samples the median instead of maintaining it exactly (an exact
    streaming median needs the full per-key value multiset, unbounded).
    Both the per-batch reduction and the presentation are the batch
    entry's own ``orders_price_sample_state`` /
    ``median_report_from_price_sample_state``, so stream == batch is one
    code path and the maintained sample — hence the sample median — is
    bit-identical to the batch single-pass state under any
    interleaving."""

    def __init__(self, spark: SparkSession, state_dir: str):
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            PRICE_SAMPLE_STATE_SCHEMA,
        )
        self._SCHEMA = PRICE_SAMPLE_STATE_SCHEMA
        super().__init__(spark, state_dir)

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            orders_price_sample_state,
        )
        return orders_price_sample_state(batch_df)

    def merge(self, partials: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            price_sample_merge_agg,
        )
        return partials.groupBy("o_orderpriority").agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            price_sample_merge_agg())

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            median_report_from_price_sample_state,
        )
        return median_report_from_price_sample_state(self.state.current())


class IncrementalSetMembershipMaintainer(_PartialMaintainer):
    """Streaming maintainer #16 — the epoch set-membership state behind
    the driver-oracled ``kmv_set_difference_audit``: one (in_a, in_b)
    bit-pair per customer that has ordered in either epoch. Bits OR
    (max) under merge and a customer row exists iff the customer is in
    the union, so state is bounded by the CUSTOMER key space regardless
    of order volume — the user-spend / source-mix precedent of
    maintaining the key-space-bounded sufficient statistic. The
    maintained frame is bit-identical to the batch
    ``order_epoch_membership`` aggregate under any batch interleaving
    (max is idempotent/commutative on bits), so ``current()`` re-derives
    the FULL audit — k=256 union KMV, rho-scaled difference estimates,
    exact counts, guarded realized error — through the batch entry's own
    ``set_difference_report_from_membership``: one code path. For
    extreme scale where even per-customer bits are too big, the k-min
    sketch itself is maintainable at fixed memory (k smallest customer
    hashes never change as bits flip, and member bits OR under merge) —
    the #14-style drop-in — but it cannot present the audit's exact
    counts, so the key-space-bounded state is the one that serves this
    entry."""

    _SCHEMA = "o_custkey BIGINT, in_a INT, in_b INT"

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            order_epoch_membership,
        )
        return order_epoch_membership(batch_df)

    def merge(self, partials: DataFrame) -> DataFrame:
        return partials.groupBy("o_custkey").agg(
            F.max("in_a").cast("int").alias("in_a"),
            F.max("in_b").cast("int").alias("in_b"))

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            set_difference_report_from_membership,
        )
        return set_difference_report_from_membership(self.state.current())


class IncrementalRankTestMaintainer(_PartialMaintainer):
    """Streaming maintainer #17 — the rank-test family's state behind
    the driver-oracled ``bh_fdr_segment_spend``: per-(segment, arm,
    cents) exact order counts. A rank test naively needs the full spend
    multiset, but every statistic the Mann-Whitney/BH derivation uses
    (doubled tie-group ranks r2 = 2c + t + 1, rank sums, tie
    corrections, arm counts) is a pure function of exact counts on the
    VALUE DOMAIN, so state is |segments| x 2 x |price grid| rows at ANY
    order volume — the value-domain-bounded argument
    ``sampled_median_audit``'s exact half established. Counts ADD under
    merge (associative/commutative), so the maintained frame — and the
    full BH-FDR report ``current()`` re-derives through the batch
    entry's own ``bh_fdr_report_from_counts`` — is bit-identical to the
    batch aggregate under any batch interleaving: one code path, never
    a parallel implementation. The per-batch delta enriches the order
    stream with the stream-static customer dimension through the same
    ``armed_segment_spend`` helper the batch entry uses (the maintainer
    #12 precedent). The per-segment Mann-Whitney z/p columns of the
    report ARE the rank-test family; the per-user-spend MW entry keeps
    its own user-bounded state in IncrementalUserSpendMaintainer."""

    _SCHEMA = "seg STRING, arm STRING, cents BIGINT, cnt BIGINT"
    _KEYS = ("seg", "arm", "cents")

    def __init__(self, spark: SparkSession, state_dir: str,
                 customer: DataFrame):
        super().__init__(spark, state_dir)
        self.customer = customer

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            armed_rank_counts,
            armed_segment_spend,
        )
        return armed_rank_counts(
            armed_segment_spend(batch_df, self.customer))

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            bh_fdr_report_from_counts,
        )
        return (bh_fdr_report_from_counts(self.state.current())
                .withColumnRenamed("seg", "c_mktsegment"))


class IncrementalOrderCountMaintainer(_PartialMaintainer):
    """Streaming maintainer #18 — the per-customer order-count state
    behind the driver-oracled ``q13_customer_order_distribution`` (the
    LEFT-OUTER double-aggregation classic): one exact BIGINT order
    count per customer that has ordered, bounded by the CUSTOMER key
    space at any order volume. Counts ADD under merge (associative/
    commutative), so the maintained frame — and the full distribution
    ``current()`` re-derives through the batch entry's own
    ``order_distribution_from_counts`` — is bit-identical to the batch
    aggregate under any batch interleaving: one code path. The
    zero-order bucket that makes Q13 an OUTER-join shape lives in the
    presentation, not the state: a customer with no orders has no state
    row, and the shared helper's left join against the stream-static
    customer dimension (passed at construction, the #12/#17 precedent)
    restores it exactly."""

    _SCHEMA = "o_custkey BIGINT, n_orders BIGINT"
    _KEYS = ("o_custkey",)

    def __init__(self, spark: SparkSession, state_dir: str,
                 customer: DataFrame):
        super().__init__(spark, state_dir)
        self.customer = customer

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            order_counts_per_customer,
        )
        return order_counts_per_customer(batch_df)

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            order_distribution_from_counts,
        )
        return order_distribution_from_counts(self.customer,
                                              self.state.current())


class IncrementalProfitMaintainer(_PartialMaintainer):
    """Streaming maintainer #19 — the Q9-profit state behind the
    driver-oracled ``q9_product_type_profit``: per-(supplier nation,
    order year) exact e-4 profit partials, bounded by |nations| x
    |years| at ANY line-item volume. Every term of the profit
    expression is BIGINT e-4 (cents x percent revenue minus
    retail-cents x quantity x 100 cost), so the partial sums ADD under
    merge (associative/commutative) and the maintained frame IS the
    batch aggregate bit-for-bit under any batch interleaving — the
    per-batch delta is computed by the batch entry's own
    ``q9_profit_partials`` helper (one code path, never a parallel
    implementation; the #12/#17/#18 stream-static precedent). The
    part/supplier/nation dimensions and the orders frame (for the
    order year) are passed at construction and enrich each delta in
    the merge; part/supplier/nation prune-then-broadcast, orders joins
    co-partitioned on orderkey."""

    _SCHEMA = "n_name STRING, o_year BIGINT, profit_e4 BIGINT"
    _KEYS = ("n_name", "o_year")

    def __init__(self, spark: SparkSession, state_dir: str,
                 part: DataFrame, supplier: DataFrame, nation: DataFrame,
                 orders: DataFrame):
        super().__init__(spark, state_dir)
        self.part = part
        self.supplier = supplier
        self.nation = nation
        self.orders = orders

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            q9_profit_partials,
        )
        return q9_profit_partials(batch_df, self.part, self.supplier,
                                  self.nation, self.orders)

    def current(self) -> DataFrame:
        return self.state.current()


class IncrementalTrendMaintainer(_PartialMaintainer):
    """Streaming maintainer #20 — the per-user OLS-trend state behind
    the driver-oracled ``grouped_ols_trend``: the per-(user, day-index)
    daily spend grid, bounded by |users| x |days| at ANY event volume.
    The mergeable unit is deliberately the GRID, not the six OLS
    sufficient statistics: a micro-batch can split a day across
    batches, and Sxy/Sxx/Syy accumulated over partial daily totals are
    simply wrong — daily cents ADD under merge, and the sufficient
    statistics derive from the completed grid at presentation (the
    ewma maintainer's day-partial precedent, feeding the regression
    family instead of the smoother). State is BIGINT cents — each
    event quantizes to cents before summation, exactly as the batch
    path's ``ols_daily_grid`` does — so merges are exact integer
    addition and ``current()`` (which re-derives the report through
    the shared ``ols_report_from_daily``) is stream == batch
    bit-identical under ANY interleaving, including adversarial values
    at half-cent boundaries and interleavings that split single days
    (r12 ADVICE)."""

    _SCHEMA = "user_id BIGINT, x INT, y BIGINT"
    _KEYS = ("user_id", "x")

    def delta(self, batch_df: DataFrame) -> DataFrame:
        # Quantize each event to integer cents BEFORE any summation
        # (r12 ADVICE: float partial sums merged by float addition can
        # flip the round-to-cents at half-cent boundaries under an
        # adversarial interleaving; BIGINT cents ADD exactly in any
        # order). Same expression as the batch path's ols_daily_grid —
        # one cents semantic, two engines.
        return (batch_df
                .groupBy("user_id",
                         F.datediff(F.to_date("ts"),
                                    F.lit("2024-01-01").cast("date"))
                         .alias("x"))
                .agg(F.sum(cents("value")).cast("long").alias("y")))

    def _daily(self) -> DataFrame:
        return self.state.current().select("user_id", "x", "y")

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            ols_report_from_daily,
        )
        return ols_report_from_daily(self._daily())

    def current_acf(self) -> DataFrame:
        """The gap-aware lag-1/2/3 autocorrelation report — the SAME
        grid state serves the driver-oracled spend_autocorrelation."""
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            acf_report_from_daily,
        )
        return acf_report_from_daily(self._daily())

    def current_theil_sen(self) -> DataFrame:
        """The robust median-of-pair-slopes trend — the SAME grid state
        serves the driver-oracled theil_sen_trend."""
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            theil_sen_report_from_daily,
        )
        return theil_sen_report_from_daily(self._daily())

    def current_mann_kendall(self) -> DataFrame:
        """The nonparametric trend test — the SAME grid state serves
        the driver-oracled mann_kendall_trend (the full trend triad
        from one maintained frame)."""
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            mann_kendall_report_from_daily,
        )
        return mann_kendall_report_from_daily(self._daily())


class IncrementalCupedMaintainer(_PartialMaintainer):
    """Streaming maintainer #21 — the CUPED unit grid behind the
    driver-oracled ``cuped_adjusted_ab``: per-customer exact pre-period
    (1996) and post-period (1997) spend cents, bounded by the CUSTOMER
    key space at any order volume. Both epoch sums ADD under merge
    (exact BIGINTs), so a customer whose 1996 orders arrive in one
    micro-batch and 1997 orders in another converges to the same unit
    row as the batch aggregate; each batch delta is computed by the
    batch entry's own ``cuped_units`` and ``current()`` re-derives the
    full per-arm CUPED report through ``cuped_report_from_units`` (one
    code path — the #20 grid-state playbook applied to the experiment
    family: theta, rho^2, and the adjusted means are all derived
    presentation, never state)."""

    _SCHEMA = "custkey BIGINT, x BIGINT, y BIGINT"
    _KEYS = ("custkey",)

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            cuped_units,
        )
        return cuped_units(batch_df)

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            cuped_report_from_units,
        )
        return cuped_report_from_units(self.state.current())


class IncrementalFeatureMomentsMaintainer(_PartialMaintainer):
    """Streaming maintainer #22 — the per-bucket feature-moment state
    behind the driver-oracled ``feature_bucket_moments``: count / sum /
    sum-of-squares of the hashed-feature matrix's non-zero cells per
    hash bucket. The state is 256 rows at ANY corpus size — the
    extreme point of the key-space-bounded family (the dimension count
    is a CONSTANT of the hashing trick, not a function of the data).
    All three moments ADD under merge with one contract caveat the
    cell definition imposes: a cell is a per-DOCUMENT aggregate, so
    batches must be document-sliced (a doc's tokens arrive together —
    the natural unit of a corpus stream, and exactly how the
    token-frequency and source-mix maintainers already consume it);
    each batch delta is computed by the batch entry's own
    ``feature_bucket_partials`` and ``current()`` re-derives the
    standardization report through ``feature_moments_from_matrix``
    (one code path)."""

    _SCHEMA = "bucket INT, n BIGINT, s BIGINT, ss DECIMAL(38,0)"
    _KEYS = ("bucket",)

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            feature_bucket_partials,
        )
        return feature_bucket_partials(batch_df)

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            feature_moments_from_matrix,
        )
        return feature_moments_from_matrix(self.state.current())


class IncrementalJpegFingerprintMaintainer(_PartialMaintainer):
    """Streaming maintainer #23 — the JPEG aHash chunk-bucket membership
    state behind the driver-oracled ``jpeg_hamming_neardups`` (the first
    incremental twin in the multimodal family): per document, the four
    (pos, 16-bit chunk) bucket rows plus the two 32-bit hash halves,
    exactly the frame ``jpeg_fingerprint_sides`` builds for the batch
    entry. Rows are a pure function of the document, so the merge is
    SET-UNION (dropDuplicates on the (doc_id, pos) key — idempotent and
    commutative, hence replay-safe and interleaving-independent by
    construction), state is bounded by 4 x |docs| rows of slim ints,
    and — the scale point — the expensive codec runs ONCE per document
    ever: each batch encodes only its own new docs, while the pair
    report ``current()`` re-derives over the full membership through
    the batch entry's own ``hamming_pairs_from_sides`` (one code path,
    pigeonhole-complete bucket join + exact Hamming verify)."""

    _SCHEMA = ("doc_id BIGINT, hash_hi BIGINT, hash_lo BIGINT, "
               "pos INT, chunk STRING")

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            jpeg_fingerprint_sides,
        )
        return jpeg_fingerprint_sides(batch_df)

    def merge(self, partials: DataFrame) -> DataFrame:
        return partials.dropDuplicates(["doc_id", "pos"])

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            hamming_pairs_from_sides,
        )
        return hamming_pairs_from_sides(self.state.current())


class IncrementalHllMaintainer(_PartialMaintainer):
    """Streaming twin of the ``hll_ndv_by_event_type`` batch
    audit — maintainer #27: the per-(event_type, bucket) HyperLogLog
    REGISTER state kept live. This is the textbook mergeable sketch:
    registers merge by per-bucket MAX, which is commutative, idempotent
    and associative, so the maintained state equals the batch registers
    bit-for-bit under ANY micro-batch interleaving AND under replay —
    max is self-idempotent, so even a non-guarded re-merge could not
    corrupt it (the guard still applies for lifecycle consistency).
    State is bounded by |event types| x 512 rows regardless of stream
    volume — the NDV answer at 100 TB without a distinct-key shuffle.

    ``current()`` folds the registers through the SAME
    ``operators/hll.py:hll_fold`` the batch entry uses (one code
    path): (event_type, filled_buckets, ndv_hll_raw). The batch
    entry's ``n_exact`` audit column is deliberately absent — exact
    distinct is precisely what a bounded streaming state cannot carry;
    the raw estimate plus fill count is the full sketch answer, and
    the consumer applies the small-range linear-counting correction
    downstream (see operators/hll.py on why ln() stays out).
    """

    _SCHEMA = "event_type STRING, _b BIGINT, _r INT"

    def delta(self, batch_df: DataFrame) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.operators.hll import (
            hll_registers,
        )
        return hll_registers(batch_df)

    def merge(self, partials: DataFrame) -> DataFrame:
        return (partials.groupBy("event_type", "_b")
                .agg(F.max("_r").alias("_r")))

    def current(self) -> DataFrame:
        from windowsession_using_kafka_flink_docker_spark.operators.hll import (
            hll_fold,
        )
        return hll_fold(self.state.current())


class IncrementalPackingMaintainer:
    """Streaming twin of the ``token_budget_packing`` batch
    entry — maintainer #28: training-sequence bins maintained as
    documents arrive, history never re-packed. Only a shard's LAST bin
    is open (the greedy fold's accumulator IS that bin's token total),
    so each batch folds ITS OWN docs from the stored per-shard tail —
    the ``operators/packing.py:greedy_fold`` resumption rule makes the
    concatenated fold equal the from-scratch fold — and the merge
    combines at most one boundary bin per shard (aggregates sum/min/
    max; closed bins are immutable, the session-store frozen/tail
    insight applied to packing).

    In-order contract (the ledger maintainer's class): each shard's
    doc_ids must arrive strictly ascending across batches — the
    append-only corpus drop-dir shape. Violations fail LOUDLY (a late
    doc would belong inside an already-closed bin; silently appending
    it would diverge from batch): merge_batch audits the batch's
    per-shard min doc_id against the stored tail before folding.

    ``current()`` is the bins table itself — asserted equal to the
    batch entry's from-scratch packing in tests.
    """

    _SCHEMA = ("shard BIGINT, bin_id BIGINT, n_docs BIGINT, "
               "bin_tokens BIGINT, first_doc BIGINT, last_doc BIGINT")

    def __init__(self, spark: SparkSession, state_dir: str):
        self.state = _VersionedState(spark, state_dir, self._SCHEMA)

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from windowsession_using_kafka_flink_docker_spark.operators.packing import (
            PACKED_SCHEMA,
            bins_from_packed,
            doc_tokens,
            pack_group,
        )

        self.state.guard(batch_id)
        # The in-order audit and the fold both consume the token
        # counts; materialize the regex scan once (the
        # incremental_session_merge twice-consumed-frame discipline).
        toks = doc_tokens(batch_df).localCheckpoint(eager=True)
        prev = self.state.latest_before(batch_id)
        if prev is not None:
            w = Window.partitionBy("shard").orderBy(F.desc("bin_id"))
            tails = (prev.withColumn("_rn", F.row_number().over(w))
                     .where(F.col("_rn") == 1)
                     .select("shard",
                             F.col("bin_id").alias("t_bin"),
                             F.col("bin_tokens").alias("t_cum"),
                             F.col("last_doc").alias("t_last")))
            viol = (toks.groupBy("shard")
                    .agg(F.min("doc_id").alias("_mn"))
                    .join(tails, "shard")
                    .where(F.col("_mn") <= F.col("t_last")).count())
            if viol:
                raise ValueError(
                    "packing maintainer requires strictly ascending "
                    f"doc_id per shard across batches; {viol} shard(s) "
                    "received a doc at or before the stored tail — a "
                    "late doc belongs inside a closed bin and cannot "
                    "be appended without diverging from the batch fold")
            toks = toks.join(F.broadcast(tails), "shard", "left")
        else:
            toks = (toks
                    .withColumn("t_bin", F.lit(None).cast("long"))
                    .withColumn("t_cum", F.lit(None).cast("long"))
                    .withColumn("t_last", F.lit(None).cast("long")))

        def _continue(pdf):
            has_tail = pdf["t_bin"].notna().any()
            sb = int(pdf["t_bin"].iloc[0]) if has_tail else 0
            sc = int(pdf["t_cum"].iloc[0]) if has_tail else 0
            return pack_group(pdf, sb, sc, bool(has_tail))

        packed = toks.groupBy("shard").applyInPandas(
            _continue, PACKED_SCHEMA)
        delta = bins_from_packed(packed)
        merged = (prev.unionByName(delta) if prev is not None else delta)
        merged = (merged.groupBy("shard", "bin_id")
                  .agg(F.sum("n_docs").alias("n_docs"),
                       F.sum("bin_tokens").alias("bin_tokens"),
                       F.min("first_doc").alias("first_doc"),
                       F.max("last_doc").alias("last_doc")))
        self.state.write(batch_id, merged)

    def current(self) -> DataFrame:
        return self.state.current()


__all__ = [
    "streaming_maintenance",
    "IncrementalFeatureMomentsMaintainer",
    "IncrementalCupedMaintainer",
    "IncrementalTrendMaintainer",
    "IncrementalProfitMaintainer",
    "IncrementalOrderCountMaintainer",
    "IncrementalRankTestMaintainer",
    "BoundedQuantileMaintainer",
    "BoundedTokenFrequencyMaintainer",
    "IncrementalContingencyMaintainer",
    "IncrementalHhiMaintainer",
    "IncrementalSetMembershipMaintainer",
    "IncrementalSourceMixMaintainer",
    "IncrementalDailyRevenueMaintainer",
    "IncrementalEwmaMaintainer",
    "IncrementalUserSpendMaintainer",
    "IncrementalDriftMaintainer",
    "IncrementalLedgerMaintainer",
    "IncrementalTableStatsMaintainer",
    "IncrementalTokenFrequencyMaintainer",
    "IncrementalJpegFingerprintMaintainer",
    "IncrementalHllMaintainer",
    "IncrementalPackingMaintainer",
]
