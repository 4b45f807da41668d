"""Structured Streaming operators over the events stream (SURVEY.md §2.9).

Each transformation below takes a DataFrame — batch OR streaming — and
returns the same logical plan, so the DuckDB-oracle-checked batch twins in
``queries/events.py`` and the streaming pipelines here share semantics by
construction. Streaming specifics (watermarks, output modes) are applied only
when the input is streaming.

At scale: these run against Kafka/file sources with watermark-bounded state;
the shuffle key is always (window, group-key) which Spark's state store
partitions by — no unbounded state growth.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# Streaming file sources need an explicit schema. Driver testdata has
# shipped events.ts as Parquet TIMESTAMP(NANOS) (round 1) and
# TIMESTAMP(MICROS) (round 2+); test fixtures also synthesize raw-nanos
# int64 files. ``read_events_stream`` sniffs the footer of whatever is in
# the directory at stream start and picks the matching schema — the raw
# LONG read for nanos (no ``nanosAsLong`` session conf mutation, cf.
# io.load_table), a native NTZ read for micros.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _dir_ts_is_micros(directory: str) -> bool:
    """True if the first parquet file in ``directory`` stores ts as a
    microsecond timestamp (new-world testdata). Raw int64 / nanosecond
    files — and an empty directory, where the synthetic raw-nanos writers
    are the only producers — take the nanos path."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in sorted(glob.glob(os.path.join(directory, "*.parquet"))):
        t = pq.ParquetFile(f).schema_arrow.field("ts").type
        return pa.types.is_timestamp(t) and t.unit == "us"
    return False


def read_events_stream(spark: SparkSession, directory: str) -> DataFrame:
    """File-source stream over a directory of events parquet files, unit-
    adaptive per ``_dir_ts_is_micros`` — no session conf mutation."""
    if _dir_ts_is_micros(directory):
        micros_schema = StructType(
            [
                StructField("event_id", LongType()),
                StructField("ts", TimestampNTZType()),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("props", StringType()),
            ]
        )
        raw = (
            spark.readStream.schema(micros_schema)
            .format("parquet")
            .load(directory)
        )
        # NTZ → LTZ interpreting the wall time as UTC *explicitly* —
        # a bare cast('timestamp') would read the wall clock in the session
        # timezone, silently shifting streaming event times relative to the
        # tz-independent batch loader on any non-UTC session.
        # convert_timezone('UTC', session, ntz) renders the UTC instant in
        # session-local wall time, so the final cast reconstructs exactly
        # that instant whatever the session tz is. Watermarks require LTZ
        # event time ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]).
        return raw.withColumn(
            "ts",
            F.expr(
                "cast(convert_timezone('UTC', current_timezone(), ts)"
                " as timestamp)"
            ),
        )
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .load(directory)
    )
    # stays TIMESTAMP_LTZ (not NTZ like the batch loader): watermarks
    # require LTZ event time ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE])
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T1/T3: tumbling 1-hour counts per event_type with late-data watermark."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_avg(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T1: 1-hour windows sliding every 30 minutes."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.avg("value").alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T2: session windows per user (gap-based)."""
    src = events.withWatermark("ts", gap) if events.isStreaming else events
    return (
        src.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T4: stateful dedup by event_id. Streaming uses
    dropDuplicatesWithinWatermark (bounded state); batch uses dropDuplicates
    (event_id is unique per event, so both keep exactly one row per id)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def dedup_first_event_tws(events: DataFrame, ttl_hours: int = 24) -> DataFrame:
    """T4/T5 via Spark 4's transformWithStateInPandas: keep the FIRST row
    per event_id, carrying the seen-set across micro-batches AND restarts in
    keyed ValueState with a TTL (the bounded-state knob that
    dropDuplicatesWithinWatermark gets from its watermark). Batch twin:
    ``dropDuplicates(["event_id"])`` — event_id is unique per event, so both
    keep exactly one row per id.

    Requires the RocksDB state store provider + a protobuf runtime (the TWS
    Python state client speaks protobuf); environments without it should use
    ``dedup_within_watermark`` — same semantics on the older API. State is
    O(|distinct ids within TTL|), sharded by the event_id grouping key —
    the same shuffle key a 1000-executor cluster would use, so state scales
    horizontally with executors.

    Processor class defined inside the function on purpose: cloudpickle
    serializes it by value, so the TWS worker process (which does not
    inherit the driver's sys.path) never needs this library importable."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    ttl_ms = ttl_hours * 3600 * 1000

    class FirstEventDedup(StatefulProcessor):
        def init(self, handle) -> None:
            self.seen = handle.getValueState("seen", "seen BOOLEAN", ttl_ms)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self.seen.get() is not None:
                return
            # earliest row for this id within the batch: batch-iterator
            # order is not guaranteed, so reduce by ts across ALL chunks
            first = None
            for pdf in rows:
                if not len(pdf):
                    continue
                cand = pdf.sort_values("ts").head(1)
                if first is None or cand["ts"].iloc[0] < first["ts"].iloc[0]:
                    first = cand
            self.seen.update((True,))
            if first is not None:
                yield first[
                    ["event_id", "ts", "user_id", "event_type", "value"]
                ]

        def close(self) -> None:
            pass

    if not events.isStreaming:
        return events.dropDuplicates(["event_id"]).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
    return (
        events.select("event_id", "ts", "user_id", "event_type", "value")
        .groupBy("event_id")
        .transformWithStateInPandas(
            FirstEventDedup(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="none",
        )
    )


def enrich_with_customers(events: DataFrame, customers: DataFrame) -> DataFrame:
    """T6: stream-static broadcast join (the static dim is re-read per
    micro-batch; broadcast keeps it off the shuffle path)."""
    return events.join(
        F.broadcast(customers), events.user_id == customers.c_custkey, "left"
    ).select("event_id", "ts", "user_id", "event_type", "value", "c_mktsegment")


def running_user_totals(events: DataFrame, timeout_minutes: int = 60) -> DataFrame:
    """T5: arbitrary stateful processing via applyInPandasWithState — a
    per-user running (count, sum) accumulator that emits an updated row per
    micro-batch and expires a user once the event-time watermark passes
    ``timeout_minutes`` after their last event. This is the custom-operator
    escape hatch when windowed aggs can't express the state machine (the
    batch-twin equivalent is a plain groupBy sum).

    The timeout is event time, not processing time: a processing-time
    timeout makes Spark run another (no-data) micro-batch after every batch
    to look for expiries, so an ``availableNow`` query never terminates.
    An event-time timeout runs one more batch only when the watermark moves.
    The watermark (delay = ``timeout_minutes``) also drops rows that arrive
    later than that behind the newest event seen.

    State layout: one (count, total) tuple per user_id — O(|active users|),
    bounded by the timeout. The shuffle key is user_id, same as the batch
    twin's.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )
    timeout_ms = timeout_minutes * 60 * 1000

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        last_ms = 0
        for pdf in pdf_iter:
            if len(pdf):
                n += len(pdf)
                total += float(pdf["value"].sum())
                last_ms = max(last_ms, int(pdf["ts_ms"].max()))
        state.update((n, total))
        state.setTimeoutTimestamp(last_ms + timeout_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        events.withWatermark("ts", f"{timeout_minutes} minutes")
        .withColumn("ts_ms", F.unix_millis("ts"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """T5 via Spark 4's transformWithStateInPandas — the successor API to
    applyInPandasWithState (typed state handles, timers, TTL). Same per-user
    running (count, sum) semantics as running_user_totals; requires the
    RocksDB state store provider on the session AND a working protobuf
    runtime (the TWS state client speaks protobuf; environments without it
    should use running_user_totals — same semantics on the older API).

    The processor class is defined INSIDE this function on purpose:
    cloudpickle then serializes it by value, so the TWS driver worker (a
    separate Python process that does NOT inherit the driver's sys.path)
    never needs this library importable."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle) -> None:
            self.totals = handle.getValueState("totals", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            prev = self.totals.get()
            n, total = prev if prev is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self.totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType=out_schema,
        outputMode="update",
        timeMode="none",
    )


def correlate_clicks_to_errors(
    errors: DataFrame, clicks: DataFrame, within: str = "1 hour", how: str = "inner"
) -> DataFrame:
    """T6 (stream-stream): join two event streams — each error to the same
    user's clicks in the preceding ``within`` interval. With streaming
    inputs, BOTH sides carry watermarks and the join condition bounds event
    time on both sides, which is what lets Spark expire join state (an
    unbounded stream-stream join would buffer forever). Works identically
    on batch inputs (the oracle-checked twin).

    ``how='left_outer'`` keeps errors with NO click in the window (click
    columns NULL) — in streaming mode the null-extended row is emitted only
    once the watermark proves no matching click can still arrive, so outer
    results are late by the watermark delay by design.

    Batch inputs route through :func:`~cobalt_duckdb_spark.operators.joins.
    band_join_bucketed` instead of the plain equi+residual join: streaming
    state is bounded by the watermark, but the batch twin's hash join
    enumerates |errors_u| × |clicks_u| pairs per user before the band
    filter — quadratic in a hot user. The (user, window-width bucket) key
    gives the same rows with per-bucket-bounded work; the left_outer twin
    null-extends unmatched errors with an anti join on error_id."""
    from pyspark.sql import functions as F

    e = errors.select(
        F.col("user_id"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    if errors.isStreaming:
        e = e.withWatermark("error_ts", "10 minutes")
        c = c.withWatermark("click_ts", "10 minutes")
        cond = (
            (e.user_id == c.c_user_id)
            & (c.click_ts <= e.error_ts)
            & (c.click_ts >= e.error_ts - F.expr(f"INTERVAL {within}"))
        )
        return e.join(c, cond, how).select(
            "user_id", "error_id", "error_ts", "click_id", "click_ts"
        )

    from cobalt_duckdb_spark.operators.joins import (
        band_join_bucketed,
        minute_bucket_fn,
    )

    qty, unit = within.split()
    width_min = int(qty) * {"minute": 1, "minutes": 1, "hour": 60, "hours": 60}[unit]
    matched = band_join_bucketed(
        e,
        c.withColumnRenamed("c_user_id", "user_id"),
        "user_id",
        "error_ts",
        "click_ts",
        band_lo=lambda t: t - F.expr(f"INTERVAL {within}"),
        band_hi=lambda t: t,
        bucket_fn=minute_bucket_fn(width_min),
    ).select("user_id", "error_id", "error_ts", "click_id", "click_ts")
    if how == "inner":
        return matched
    if how != "left_outer":
        raise ValueError(f"how must be inner|left_outer, got {how!r}")
    orphans = e.join(
        matched.select("error_id"), "error_id", "left_anti"
    ).select(
        "user_id",
        "error_id",
        "error_ts",
        F.lit(None).cast(c.schema["click_id"].dataType).alias("click_id"),
        F.lit(None).cast(c.schema["click_ts"].dataType).alias("click_ts"),
    )
    return matched.unionByName(orphans)


def windowed_type_counts(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Hopping-window (1 h / 30 min) counts per event_type — the incremental
    half of the trending-items pipeline. Rank does NOT happen here: a global
    per-window rank is not incrementally maintainable in append mode (a new
    row can dethrone an already-emitted one), so ranking belongs in
    ``rank_topk_batch`` applied per micro-batch via foreachBatch, or on the
    finalized sink table."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def rank_topk_batch(counts: DataFrame, k: int = 2) -> DataFrame:
    """Rank stage of the trending-items pipeline: top-k event types per
    window from a (window_start, event_type, n) counts table. Deterministic
    tie-break on event_type. Batch-only by design — run it inside
    foreachBatch or over the finalized counts sink."""
    from pyspark.sql import Window

    rnk = F.row_number().over(
        Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return counts.select(
        "window_start", "event_type", "n", rnk.alias("rnk")
    ).filter(F.col("rnk") <= k)


def compact_latest(events: DataFrame) -> DataFrame:
    """Batch compaction: one current row per user (ts DESC, event_id DESC
    tiebreak) — the shared kernel of the CDC upsert pattern. Used both by the
    batch query (events_latest_user_state) and inside foreachBatch below."""
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    )
    return (
        events.select("user_id", "event_type", "ts", "event_id", rn.alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def latest_state_upsert(
    stream: DataFrame, state_path: str, checkpoint: str
):
    """Streaming CDC upsert WITHOUT a table format: maintain a keyed
    latest-state table in plain Parquet via foreachBatch merge-and-rewrite.

    Each micro-batch: (1) compact the batch to latest-per-key, (2) union
    with the existing state, (3) re-compact, (4) atomically replace the
    state (write to a versioned subdir, then repoint a _CURRENT marker —
    plain-parquet stand-in for a transactional commit; with Delta/Iceberg
    this whole function is a MERGE INTO). foreachBatch gives at-least-once
    sink semantics; the merge is idempotent (same batch replayed → same
    state), which upgrades the end-to-end result to effectively-once.

    Scale: state rewrite is O(|keys|) per batch — the plain-parquet cost;
    partition the state by key-hash bucket and rewrite only buckets touched
    by the batch to make it incremental (documented trade-off, same pattern
    Delta's MERGE implements under the hood)."""
    import os

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = compact_latest(batch_df)
        marker = os.path.join(state_path, "_CURRENT")
        if os.path.exists(marker):
            with open(marker) as fh:
                cur = fh.read().strip()
            existing = spark.read.parquet(os.path.join(state_path, cur))
            merged = compact_latest(existing.unionByName(delta))
        else:
            merged = delta
        new_ver = f"v{batch_id}"
        merged.write.mode("overwrite").parquet(
            os.path.join(state_path, new_ver)
        )
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(new_ver)
        os.replace(tmp, marker)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_latest_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Read the current version of the upsert state table."""
    import os

    with open(os.path.join(state_path, "_CURRENT")) as fh:
        cur = fh.read().strip()
    return spark.read.parquet(os.path.join(state_path, cur))


def scd2_history_upsert(stream: DataFrame, state_path: str, checkpoint: str):
    """Streaming SCD TYPE-2 maintenance via foreachBatch: where
    :func:`latest_state_upsert` keeps only the current row per key, this
    keeps the full versioned [valid_from, valid_to) interval history —
    each micro-batch's state changes CLOSE the affected keys' open
    intervals and open new ones, exactly what a lakehouse MERGE INTO with
    a `valid_to = NULL` predicate does.

    Implementation: per batch, the union of (existing history rows for
    touched keys' raw change points + new batch events) is re-compacted
    with the same gaps-and-islands kernel the batch query
    (`events_scd2_user_state`) uses — recompaction is idempotent, so batch
    replays produce identical history (effectively-once, as with the
    Type-1 sink). Untouched keys' history is carried over verbatim.
    Versioned-parquet atomic repoint as in latest_state_upsert.

    Scale note: per-batch cost is O(history of touched keys + batch), not
    O(all history); bucket the state by key-hash to rewrite only touched
    buckets."""
    import os

    from pyspark.sql import Window

    def to_scd2(events: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = events.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_state"),
        )
        changes = seq.filter(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("state"))
        )
        return changes.select(
            "user_id",
            "state",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "event_id",
            F.row_number().over(w).cast("bigint").alias("version"),
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_events = batch_df.select(
            "user_id", "event_type", "ts", "event_id"
        )
        marker = os.path.join(state_path, "_CURRENT")
        if os.path.exists(marker):
            with open(marker) as fh:
                cur = fh.read().strip()
            history = spark.read.parquet(os.path.join(state_path, cur))
            touched = batch_events.select("user_id").distinct()
            carried = history.join(touched, "user_id", "left_anti")
            # touched keys: replay their change points + the new events
            # through the same compaction kernel (idempotent)
            prior_events = history.join(touched, "user_id", "left_semi").select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("valid_from").alias("ts"),
                "event_id",
            )
            merged = to_scd2(
                prior_events.unionByName(batch_events)
            ).unionByName(carried)
        else:
            merged = to_scd2(batch_events)
        new_ver = f"v{batch_id}"
        merged.write.mode("overwrite").parquet(
            os.path.join(state_path, new_ver)
        )
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(new_ver)
        os.replace(tmp, marker)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
