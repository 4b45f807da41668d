"""Events pack: JSON parsing (S10) + streaming operators' batch twins (§2.9).

Every streaming operator ships as a batch query over ``events.parquet`` so
the DuckDB oracle can check its semantics (SURVEY.md §2.9 note); the
streaming variants themselves (readStream + watermark) live in
``cobalt_duckdb_spark/streaming`` and are smoke-tested in pytest.

Spark's time windows are epoch-aligned; DuckDB's ``time_bucket`` uses the
same alignment, so tumbling twins agree exactly. Sliding windows are
emulated in SQL as the union of ``window/slide`` phase-shifted buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.exact import (
    exact_round_avg,
    exact_round_avg_int,
    exact_round_avg_int_sql,
    exact_round_avg_sql,
    exact_round_ratio,
    exact_round_ratio_sql,
    exact_round_sum,
    exact_round_sum_sql,
    spark_round_sql,
)
from cobalt_duckdb_spark.functions.matrix import (
    add,
    dense,
    identity,
    indices,
    iterate,
    let,
    long,
    product,
    total,
    where,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators.graph import transition_counts
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: JSON-in-string parsing with get_json_object + typed aggregation."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .transform(sort_result, "event_type")
    )


@register(
    "stream_tumbling_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def stream_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 batch twin: 1-hour tumbling windows per event_type. Streaming form:
    readStream → withWatermark('ts','10 minutes') → same groupBy."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .transform(sort_result, "window_start", "event_type")
    )


@register(
    "stream_sliding_window_avg",
    oracle="""
    WITH phased AS (
        SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - (o.off * INTERVAL '30 minutes') AS window_start,
               value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) o
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ((SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 100) // COUNT(*)) / 10000.0
               AS avg_value
    FROM phased GROUP BY 1 ORDER BY window_start
    """,
)
def stream_sliding_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 batch twin (sliding): 1-hour windows sliding every 30 minutes —
    each event contributes to exactly window/slide = 2 windows.

    The average is exact integer arithmetic (values are 2-dp currency):
    sum of cents → truncating integer division → one division by 10^4.
    ROUND(avg, 4) is NOT cross-engine safe here — when the true mean lands on
    a .xxxx5 boundary Spark rounds the shortest decimal repr (HALF_UP →
    73.9138) while DuckDB rounds the raw binary double (→ 73.9137); observed
    at sf0.01. Integer div + exact scale division is bit-identical."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.expr("(sum(cast(round(value * 100, 0) as bigint)) * 100) div count(*)")
                / 10000.0
            ).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
        .transform(sort_result, "window_start")
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered
    WHERE user_id < 20
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 batch twin: 30-minute-gap session windows per user. Spark's
    ``session_window`` end = last event + gap; the oracle's gaps-and-islands
    reproduces exactly that."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .transform(sort_result, "user_id", "session_start")
    )


@register(
    "stream_dedup_first_event",
    oracle="""
    SELECT user_id, event_type,
           CAST(MIN(event_id) AS BIGINT) AS first_event_id,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type
    """,
)
def stream_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 batch twin: deterministic dedup — first event per (user, type).
    (``dropDuplicates`` keeps an arbitrary row; we pin min(event_id) so the
    result is stable. The streaming form is dropDuplicatesWithinWatermark.)"""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .transform(sort_result, "user_id", "event_type")
    )


@register(
    "stream_static_enrichment",
    oracle="""
    SELECT c.c_mktsegment AS c_mktsegment, e.event_type AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY c_mktsegment, event_type
    """,
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 batch twin: stream-static join — events enriched with the customer
    dimension (broadcast: the dim is small relative to the stream)."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .transform(sort_result, "c_mktsegment", "event_type")
    )


@register(
    "events_user_journey_prefix",
    oracle="""
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>')
               AS first_events,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE user_id < 25
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_user_journey_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path/sequence analysis: each user's first five event types in time
    order (funnel-entry patterns), serialized 'a>b>c' so the output column
    is a hashable scalar. Ordered collect via sort_array over
    (ts, event_id, type) structs — the deterministic ordered-aggregation
    idiom (plain collect_list order is partition-arbitrary)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 25)
    ordered = F.array_join(
        F.transform(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                1,
                5,
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return (
        e.groupBy("user_id")
        .agg(
            ordered.alias("first_events"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .transform(sort_result, "user_id")
    )


@register(
    "json_props_as_map",
    oracle="""
    WITH kv AS (
        SELECT event_type, k AS prop_key,
               CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS prop_value
        FROM (SELECT event_type, props, unnest(json_keys(props)) AS k FROM events)
    )
    SELECT event_type, prop_key,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(prop_value) AS BIGINT) AS total
    FROM kv GROUP BY 1, 2 ORDER BY event_type, prop_key
    """,
)
def json_props_as_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 deep form: JSON → MapType → explode into key/value rows (the
    schema-on-read path for ragged property bags where get_json_object's
    fixed paths don't fit). DuckDB twin: json_each lateral join."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        e.select("event_type", F.explode(m).alias("prop_key", "prop_value"))
        .groupBy("event_type", "prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("prop_value").alias("total"),
        )
        .transform(sort_result, "event_type", "prop_key")
    )


@register(
    "join_interval_error_click",
    oracle="""
    SELECT e.user_id AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT e.event_id) AS BIGINT) AS n_errors_with_click
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'error') e
    JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts <= e.ts
     AND c.ts >= e.ts - INTERVAL '1 hour'
    GROUP BY e.user_id
    ORDER BY user_id
    """,
)
def join_interval_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 stream-stream batch twin: errors joined to same-user clicks within
    the preceding hour (interval join — the double-bounded event-time
    condition that makes the streaming form's state finite), aggregated per
    user. The streaming variant is streaming.correlate_clicks_to_errors."""
    from cobalt_duckdb_spark.streaming.events import correlate_clicks_to_errors

    e = load_table(spark, sf_dir, "events")
    pairs = correlate_clicks_to_errors(
        e.filter(F.col("event_type") == "error"),
        e.filter(F.col("event_type") == "click"),
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("error_id").alias("n_errors_with_click"),
        )
        .transform(sort_result, "user_id")
    )


@register(
    "events_value_zscore_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id AS event_id, e.event_type AS event_type,
           ROUND(e.value, 2) AS value,
           ROUND((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE (e.value - s.mu) / s.sigma > 2.5
    ORDER BY event_id
    """,
)
def events_value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection — the cheap statistical cleaning
    pass a training-data pipeline runs before ingestion (drop or quarantine
    rows whose value is implausible for their category).

    Scale shape: the per-type stats are a 5-row aggregate broadcast back to
    the scan (one partial-agg shuffle of 5 groups), so the outlier filter is
    a stateless map over the big table — no window over the full data, no
    second shuffle."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(z > 2.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
        .transform(sort_result, "event_id")
    )


@register(
    "events_windowed_topk_types",
    oracle="""
    WITH phased AS (
        SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - (o.off * INTERVAL '30 minutes') AS window_start,
               event_type
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) o
    ),
    counted AS (
        SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM phased GROUP BY 1, 2
    ),
    ranked AS (
        SELECT window_start, event_type, n,
               ROW_NUMBER() OVER (
                   PARTITION BY window_start ORDER BY n DESC, event_type ASC
               ) AS rnk
        FROM counted
    )
    SELECT window_start, event_type, n, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 2
    ORDER BY window_start, rnk
    """,
)
def events_windowed_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per 1-hour hopping window (slide 30 min) — the
    trending-items shape: windowed counts + per-window rank. Batch twin of
    the streaming pipeline (the rank stage runs in foreachBatch / on the
    complete-mode sink downstream of the incremental windowed counts —
    ranking is not incrementally maintainable in append mode by design).

    Ties broken by event_type so the cut is deterministic cross-engine."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    counted = e.groupBy(
        F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    rnk = F.row_number().over(
        Window.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return (
        counted.select(
            F.col("w.start").alias("window_start"), "event_type", "n", rnk.alias("rnk")
        )
        .filter(F.col("rnk") <= 2)
        .transform(sort_result, "window_start", "rnk")
    )


@register(
    "events_latest_user_state",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events
    )
    SELECT user_id, event_type AS last_event_type, ts AS last_ts,
           CAST(n_events AS BIGINT) AS n_events
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def events_latest_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state (SCD type 1 / CDC upsert compaction): reduce the event
    log to one current row per key — the shape every lakehouse MERGE/upsert
    pipeline materializes. Deterministic tiebreak (ts DESC, event_id DESC)
    so 'latest' is well-defined under same-timestamp events.

    One window over user-partitioned rows gives both the latest row and the
    per-key count in a single shuffle; at scale this is the standard
    row_number-compaction pattern (beats max-ts + self-join: one shuffle,
    no join)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ranked = e.select(
        "user_id",
        "event_type",
        "ts",
        F.row_number()
        .over(w.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .transform(sort_result, "user_id")
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type),
                 6) AS p
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY from_type, to_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current) — the session-path model behind next-action
    prediction, funnel leak detection, and bot fingerprinting (bots have
    near-deterministic rows).

    Scale shape: ONE shuffle on user_id for the sequence window (lead), then
    a type-pair aggregate whose cardinality is |types|² — tiny — so the
    normalizing window over from_type is free. Deterministic sequence order
    via (ts, event_id) tiebreak."""
    from pyspark.sql import Window

    pairs = transition_counts(load_table(spark, sf_dir, "events")).filter(
        F.col("j").isNotNull()
    )
    tot = Window.partitionBy("i")
    return pairs.select(
        F.col("i").alias("from_type"),
        F.col("j").alias("to_type"),
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    ).transform(sort_result, "from_type", "to_type")


@register(
    "events_scd2_user_state",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS ts,
               event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_state
        FROM events WHERE user_id < 10
    ),
    changes AS (
        SELECT user_id, state, ts, event_id FROM seq
        WHERE prev_state IS NULL OR prev_state <> state
    )
    SELECT user_id, state,
           ts AS valid_from,
           LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS valid_to,
           (LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) IS NULL) AS is_current,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS BIGINT) AS version
    FROM changes
    ORDER BY user_id, version
    """,
)
def events_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: compact the event log into versioned
    [valid_from, valid_to) state intervals per user, collapsing consecutive
    identical states (gaps-and-islands) — the dimension-history complement
    to ``events_latest_user_state``'s Type-1 compaction. This is what a
    lakehouse MERGE pipeline materializes for "as of time T" joins
    (the as-of join operator then serves point-in-time lookups against it).

    Scale shape: ONE shuffle on user_id serves all three windows (change
    detection, interval close, versioning) because they share the partition
    key; per-user history is processed within a partition with no further
    exchange. Deterministic under same-timestamp events via the event_id
    tiebreak."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_state"),
    )
    changes = seq.filter(
        F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state"))
    )
    valid_to = F.lead("ts").over(w)
    return (
        changes.select(
            "user_id",
            "state",
            F.col("ts").alias("valid_from"),
            valid_to.alias("valid_to"),
            valid_to.isNull().alias("is_current"),
            F.row_number().over(w).cast("bigint").alias("version"),
        )
        .transform(sort_result, "user_id", "version")
    )


@register(
    "join_interval_error_click_left",
    oracle="""
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'error'),
    c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click'),
    joined AS (
        SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id
        FROM e LEFT JOIN c
          ON e.user_id = c.user_id
         AND c.ts <= e.ts
         AND c.ts >= e.ts - INTERVAL '1 hour'
    ),
    per_error AS (
        SELECT user_id, error_id,
               COUNT(click_id) AS n_clicks
        FROM joined GROUP BY user_id, error_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_errors,
           CAST(SUM(CASE WHEN n_clicks > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors_with_click,
           CAST(SUM(CASE WHEN n_clicks = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors_orphan
    FROM per_error
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def join_interval_error_click_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 left-OUTER stream-stream batch twin: unlike the inner variant,
    errors with no same-user click in the preceding hour survive with NULL
    click columns — the "orphan error" diagnostic (errors not preceded by
    user interaction suggest background/system failures, not UX failures).
    In streaming mode the outer row is emitted only after the watermark
    proves no match can arrive (pinned by
    ``tests/test_streaming.py::test_left_outer_interval_join_emits_orphans``).

    Batch plan: one read; an error's matches are a click count over a
    [ts − 1 h, ts] range window per user, an orphan a zero count."""
    from pyspark.sql import Window

    typ = F.col("event_type")
    hour_before = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp_ltz")))
        .rangeBetween(-3_600_000_000, 0)
    )
    per_error = (
        load_table(spark, sf_dir, "events")
        .filter(typ.isin("error", "click"))
        .select(
            "user_id",
            "event_id",
            typ,
            F.when(
                F.col("ts").isNotNull(),
                F.count(F.when(typ == "click", F.lit(1))).over(hour_before),
            ).alias("n_clicks"),
        )
        .filter(typ == "error")
        .groupBy("user_id", "event_id")
        .agg(F.max("n_clicks").alias("n_clicks"))
    )
    return (
        per_error.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_errors"),
            F.sum(F.when(F.col("n_clicks") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_errors_with_click"),
            F.sum(F.when(F.col("n_clicks") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_errors_orphan"),
        )
        .transform(sort_result, "user_id")
    )


@register(
    "events_assoc_rules_types",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    nu AS (SELECT COUNT(DISTINCT user_id) * 1.0 AS n FROM baskets),
    item AS (SELECT event_type, COUNT(*) * 1.0 AS n_item FROM baskets
             GROUP BY event_type),
    pair AS (
        SELECT a.event_type AS lhs, b.event_type AS rhs,
               COUNT(*) * 1.0 AS n_pair
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.lhs, p.rhs,
           ROUND(p.n_pair / (SELECT n FROM nu), 6) AS support,
           ROUND(p.n_pair / ia.n_item, 6) AS confidence,
           ROUND((p.n_pair / ia.n_item) / (ib.n_item / (SELECT n FROM nu)), 6)
               AS lift
    FROM pair p
    JOIN item ia ON ia.event_type = p.lhs
    JOIN item ib ON ib.event_type = p.rhs
    ORDER BY lhs, rhs
    """,
)
def events_assoc_rules_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over per-user behavior baskets: support /
    confidence / lift for every event-type pair — the first round of an
    FP-growth-style market-basket analysis, done relationally (lift > 1 =
    types co-occurring beyond independence; the behavioral cousin of
    ``text_pmi_collocations``).

    Scale shape: one read, one shuffle into per-user baskets; each basket
    emits a (NULL, NULL) user row and one (x, y ≥ x) row per in-basket pair
    (x = y is the item; |types|² max per user, never users²), one rollup
    counts them, and windows over that |types|²-row frame bring totals and
    item counts to the pairs. At real vocabulary sizes the standard guard
    is a support floor on the basket — the 5-type vocabulary needs none."""
    from pyspark.sql import Window

    def pair(x, y):
        return F.struct(x.alias("lhs"), y.alias("rhs"))

    none = F.lit(None).cast("string")
    rows = F.concat(
        F.array(pair(none, none)),
        F.flatten(
            F.transform(
                "types",
                lambda x: F.transform(F.filter("types", lambda y: y >= x), lambda y: pair(x, y)),
            )
        ),
    )
    # a NULL user_id still holds items, but is no user and pairs with
    # nobody (COUNT DISTINCT and the equi-join both skip it)
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
        .select(
            F.inline(
                F.filter(rows, lambda r: F.col("user_id").isNotNull() | (r["lhs"] == r["rhs"]))
            )
        )
        .groupBy("lhs", "rhs")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    item = F.max(F.when(F.col("lhs") == F.col("rhs"), F.col("cnt")))
    n = F.max(F.when(F.col("lhs").isNull(), F.col("cnt"))).over(Window.partitionBy())
    return (
        counts.select(
            "lhs",
            "rhs",
            "cnt",
            n.alias("n"),
            item.over(Window.partitionBy("lhs")).alias("n_lhs"),
            item.over(Window.partitionBy("rhs")).alias("n_rhs"),
        )
        .filter(F.col("lhs") < F.col("rhs"))
        .select(
            "lhs",
            "rhs",
            F.round(F.col("cnt") / F.col("n"), 6).alias("support"),
            F.round(F.col("cnt") / F.col("n_lhs"), 6).alias("confidence"),
            F.round(
                (F.col("cnt") / F.col("n_lhs")) / (F.col("n_rhs") / F.col("n")), 6
            ).alias("lift"),
        )
        .orderBy("lhs", "rhs")
    )


@register(
    "events_linear_attribution",
    oracle="""
    WITH purch AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type <> 'purchase'
    ),
    pairs AS (
        SELECT p.event_id AS purchase_id, p.value, t.event_type,
               COUNT(*) OVER (PARTITION BY p.event_id) AS n_touches
        FROM purch p
        JOIN touch t
          ON t.user_id = p.user_id
         AND t.ts <= p.ts
         AND t.ts >= p.ts - INTERVAL '30 minutes'
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           {credit_sum} AS attributed_revenue
    FROM pairs
    GROUP BY event_type
    ORDER BY event_type
    """.replace("{credit_sum}", exact_round_sum_sql("value / n_touches", 4)),
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the same user's non-purchase touches in the preceding 30
    minutes; per touch type, total attributed revenue — the allocation query
    behind marketing-mix and funnel-credit reporting.

    Scale shape: the purchase×touch meet is a double-bounded interval join
    on user_id run through :func:`band_join_bucketed` — the plain
    equi+residual form enumerates |purch_u|×|touch_u| pairs per user before
    the band filter (the skew probe measured ×3.97 under a 40%-hot-user
    corpus), while the (user, 30-min bucket) key bounds the hot user's work
    by per-bucket density. Per-purchase touch counts ride a window over the
    already-shuffled purchase key, and the final per-type rollup is a 4-row
    aggregate. The division happens before the sum so the allocation is
    conserved: Σ attributed = Σ value of attributed purchases."""
    from pyspark.sql import Window

    from cobalt_duckdb_spark.operators.joins import (
        band_join_bucketed,
        minute_bucket_fn,
    )

    e = load_table(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    touch = e.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", F.col("ts").alias("t_ts")
    )
    pairs = band_join_bucketed(
        purch,
        touch,
        "user_id",
        "ts",
        "t_ts",
        band_lo=lambda t: t - F.expr("INTERVAL 30 MINUTES"),
        band_hi=lambda t: t,
        bucket_fn=minute_bucket_fn(30),
    ).select("purchase_id", "value", "event_type")
    n_touch = F.count("*").over(Window.partitionBy("purchase_id"))
    credited = pairs.withColumn("credit", F.col("value") / n_touch)
    return (
        credited.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.countDistinct("purchase_id").cast("bigint").alias("n_purchases"),
            # value/n lives on the 1/(100·n) lattice: its sum can sit exactly
            # on a 4-dp half-way point, where double rounding is
            # engine-dependent (functions/exact.py) — sum exactly instead.
            exact_round_sum(F.col("credit"), 4).alias("attributed_revenue"),
        )
        .transform(sort_result, "event_type")
    )


@register(
    "events_sessionization",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, event_type, value,
               CAST(ts AS TIMESTAMP) AS ts,
               LAG(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_ts
        FROM events
    ),
    marked AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                         OR date_diff('microsecond', prev_ts, ts)
                            > 1800000000
                       THEN 1 ELSE 0 END AS is_start
        FROM seq
    ),
    sess AS (
        SELECT *, SUM(is_start) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sess_n
        FROM marked
    )
    SELECT user_id,
           CAST(sess_n AS BIGINT) AS session_n,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(date_diff('microsecond', MIN(ts), MAX(ts)) AS BIGINT)
               AS duration_us,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END), 2) AS revenue
    FROM sess
    GROUP BY user_id, sess_n
    ORDER BY user_id, session_n
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session starts at the
    first event or after a >30-min silence; running-sum of start markers
    assigns the per-user session number, then each session rolls up to the
    canonical session-stats row (events, duration, conversions, revenue) —
    the batch twin of ``stream_session_windows``'s session_window, exposing
    the session IDS rather than only the aggregate.

    Scale shape: ONE user_id shuffle serves both windows (lag + running
    sum — same key, same ordering, one sort), then the rollup re-uses the
    same partitioning. No inter-user dependency, so hot users are the only
    skew and they bound at events-per-user."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_id", "event_type", "value", "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    marked = seq.withColumn(
        "is_start",
        F.when(
            F.col("prev_ts").isNull()
            | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800000000),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sess_n",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", F.col("sess_n").cast("bigint").alias("session_n"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr(
                "CAST(timestampdiff(MICROSECOND, MIN(ts), MAX(ts)) AS BIGINT)"
            ).alias("duration_us"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .otherwise(0.0)
                ),
                2,
            ).alias("revenue"),
        )
        .transform(sort_result, "user_id", "session_n")
    )


@register(
    "json_props_variant",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
               AS avg_k,
           CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k')
                              AS BIGINT) >= 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           'OBJECT<k: BIGINT>' AS variant_schema
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def json_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 via Spark 4 VARIANT: ``parse_json`` decodes the props string ONCE
    into the binary semi-structured VARIANT encoding; ``try_variant_get``
    then extracts typed paths without re-parsing, and
    ``schema_of_variant_agg`` infers the corpus-wide shape (asserted against
    the expected 'OBJECT<k: BIGINT>'). At 100 TB this is the
    parse-at-ingest / extract-many pattern: store the VARIANT column in
    Parquet and every later query skips string parsing entirely — the
    string-path twin (``json_props_extract``) re-tokenizes JSON per access."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("v"))
    k = F.try_variant_get("v", "$.k", "bigint")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.sum(F.when(k >= 50, 1).otherwise(0)).cast("bigint").alias("n_high"),
            F.schema_of_variant_agg("v").alias("variant_schema"),
        )
        .transform(sort_result, "event_type")
    )


@register(
    "events_winsorized_stats",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY value NULLS LAST) AS rn,
               COUNT(value) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    stats AS (
        SELECT event_type,
               MIN(CASE WHEN rn = (n + 99) // 100 THEN value END) AS p01,
               MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
        FROM ranked GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {mean_raw} AS mean_raw,
           {mean_wins} AS mean_winsorized,
           CAST(SUM(CASE WHEN e.value < s.p01 OR e.value > s.p99
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """.replace("{mean_raw}", exact_round_avg_int_sql("e.value", 4, 2)).replace(
        "{mean_wins}",
        exact_round_avg_int_sql(
            "LEAST(GREATEST(e.value, s.p01), s.p99)", 4, 2
        ),
    ),
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics: per-type values clipped to the exact
    [p1, p99] band before averaging — the tail-taming cleaning step that
    keeps a fat-fingered 10000× value from dragging a feature mean, without
    dropping the row like the z-score filter does.

    Scale shape: the per-type threshold table is |types| rows → broadcast
    back onto the stream; clipping is map-only. Exact thresholds are the
    audit form — at 100 TB swap ``percentile_approx`` into the stats CTE,
    plan unchanged (the `events_mad_robust_outliers` pattern).

    Cross-engine discipline (an sf0.1 redraw world, seed 808, caught the
    interpolated variant): the clip thresholds are DISCRETE order
    statistics — the value at rank ceil(n/100) / ceil(99n/100) per type —
    not interpolated percentiles. An interpolated threshold landing ON a
    lattice data value puts every tied row's strict `value < p01`
    comparison on an engine-ulp knife edge (n_clipped flipped by 3 rows
    while both means agreed); an order statistic is an exact lattice
    value, so ties resolve identically — and the clipped values stay on
    the cent lattice, so the winsorized mean runs the exact int path."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    # NULL discipline (ADVICE r5): rank with NULLS LAST and count NON-NULL
    # values, so NULL rows take ranks > nn and can never be the selected
    # order statistic — mirroring how the percentile aggregates this window
    # replaced skip NULLs (Spark default is nulls-first ASC, DuckDB's is
    # nulls-last; without this, a NULL-carrying redraw world shifts every
    # rank by the null count on one engine only).
    w = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("value"))
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("value").over(Window.partitionBy("event_type")).alias("nn"),
    )
    stats = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.expr("rn = (nn + 99) div 100"), F.col("value"))
        ).alias("p01"),
        F.max(
            F.when(F.expr("rn = (99 * nn + 99) div 100"), F.col("value"))
        ).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            exact_round_avg_int(F.col("value"), 4, 2).alias("mean_raw"),
            exact_round_avg_int(clipped, 4, 2).alias("mean_winsorized"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("p01"))
                    | (F.col("value") > F.col("p99")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clipped"),
        )
        .transform(sort_result, "event_type")
    )


_MKV_SQUARINGS = 5  # P^(2^5) = 32-step chain — ample mixing for 5 states


def _round9(cells: Column) -> Column:
    """The per-step 9-dp fixed point both engines apply to each cell."""
    return F.transform(cells, lambda x: F.round(x, 9))


def _markov_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-step transition matrix P[i, j] = round(n / row total, 9)
    as one ``labels``/``cells`` row."""
    from pyspark.sql import Window

    pairs = transition_counts(load_table(spark, sf_dir, "events")).filter(
        F.col("j").isNotNull()
    )
    row_total = F.sum("n").over(Window.partitionBy("i"))
    return dense(pairs.select("i", "j", F.round(F.col("n") / row_total, 9).alias("p")))


def _squared(p: Column, k: Column) -> Column:
    """P^(2^_MKV_SQUARINGS), rounded to 9 dp after every squaring."""
    return iterate(p, _MKV_SQUARINGS, lambda m: _round9(product(m, m, k)))


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    p0 AS MATERIALIZED (
        SELECT event_type AS i, next_type AS j,
               ROUND(COUNT(*) * 1.0
                     / SUM(COUNT(*)) OVER (PARTITION BY event_type), 9) AS p
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    {','.join(
        f'''p{t} AS MATERIALIZED (
        SELECT x.i AS i, y.j AS j, ROUND(SUM(x.p * y.p), 9) AS p
        FROM p{t - 1} x JOIN p{t - 1} y ON x.j = y.i
        GROUP BY x.i, y.j
    )''' for t in range(1, _MKV_SQUARINGS + 1)
    )},
    pi_raw AS (
        SELECT j AS event_type, AVG(p) AS pi
        FROM p{_MKV_SQUARINGS} GROUP BY j
    ),
    norm AS (SELECT SUM(pi) AS z FROM pi_raw)
    SELECT event_type,
           ROUND(pi / (SELECT z FROM norm), 6) AS stationary_p
    FROM pi_raw
    ORDER BY event_type
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the session Markov chain — where user
    journeys spend their time in the long run (the equilibrium complement
    of `events_transition_matrix`'s one-step view and the PageRank query's
    damped variant). π is read off P^32: five squarings of the |types|²
    transition matrix (repeated-squaring pattern shared with the PCA
    query), then a uniform-start row average and renormalization. 9-dp
    rounding per squaring is the cross-engine fixed point.

    Scale: the only corpus-wide work is the sequence window's user_id
    shuffle. The matrix is one row (functions/matrix.py) and the squarings
    are an ``aggregate`` over it inside the same plan — building the query
    starts no Spark job."""
    from pyspark.sql import Window

    pk = long(_markov_dense(spark, sf_dir).select(
        "labels", _squared(F.col("cells"), F.size("labels")).alias("cells")
    ))
    pi = pk.groupBy(F.col("j").alias("event_type")).agg(F.avg("p").alias("pi"))
    z = F.sum("pi").over(Window.partitionBy())
    return pi.select(
        "event_type",
        # z CAN be exactly 0: on a leaky (absorbing) chain the squared
        # mass decays geometrically and 9-dp rounding floors it to 0
        # (0.5^32 ≈ 2e-10 — sparse-world fuzz, 10-event corpus). DuckDB
        # division by zero yields NULL; Spark ANSI raises — guard to
        # the shared NULL contract (no surviving mass → π undefined).
        F.round(F.when(z > 0, F.col("pi") / z), 6).alias("stationary_p"),
    ).orderBy("event_type")


@register(
    "events_bitemporal_restatement",
    oracle="""
    WITH bt AS (
        /* ingest_ts synthesized deterministically: every 10th event
           arrives 2 h late — the bitemporal axis the testdata lacks */
        SELECT CAST(ts AS TIMESTAMP) AS valid_ts,
               CASE WHEN event_id % 10 = 0
                    THEN CAST(ts AS TIMESTAMP) + INTERVAL '2 hours'
                    ELSE CAST(ts AS TIMESTAMP) END AS ingest_ts,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    daily AS (
        /* exact lattice sums (functions/exact.py): the revenue pair feeds
           a DIFFERENCE, where a float-epsilon spread between two
           double-sum orders can turn a true zero into ROUND(-eps, 2) =
           -0.0 on DuckDB only (signed-zero class, r6) */
        SELECT CAST(valid_ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_final,
               {rev_final} AS rev_final,
               {rev_known} AS rev_known,
               CAST(SUM(CASE WHEN CAST(ingest_ts AS DATE)
                                  > CAST(valid_ts AS DATE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        FROM bt GROUP BY 1
    )
    SELECT CAST(day AS VARCHAR) AS day, n_final, n_late,
           rev_known AS rev_known_at_day_end,
           rev_final,
           ROUND(rev_final - rev_known, 2) AS restatement
    FROM daily
    ORDER BY day
    """.replace(
        "{rev_final}", exact_round_sum_sql("value", 2)
    ).replace(
        "{rev_known}",
        exact_round_sum_sql(
            "CASE WHEN CAST(ingest_ts AS DATE) = CAST(valid_ts AS DATE)"
            " THEN value ELSE 0 END",
            2,
        ),
    ),
)
def events_bitemporal_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal restatement audit: daily purchase revenue "as known at
    the day's end" (ingest time ≤ day end) vs "as of now" (all arrivals) —
    the valid-time/transaction-time distinction behind every finance
    restatement and late-data SLA. A batch rollup that ignores ingest time
    silently rewrites history; this query QUANTIFIES the rewrite per day
    (the batch twin of the streaming watermark trade-off: what the
    watermark would have dropped is exactly `restatement`).

    The ingest axis is synthesized deterministically (every 10th event
    arrives 2 h late) since the testdata carries only valid time; with a
    real ingest_ts column the query is unchanged. One grouped pass —
    conditional aggregation, no second scan."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    bt = e.select(
        F.col("ts").alias("valid_ts"),
        F.when(
            F.col("event_id") % 10 == 0,
            F.col("ts") + F.expr("INTERVAL 2 hours"),
        )
        .otherwise(F.col("ts"))
        .alias("ingest_ts"),
        "value",
    )
    same_day = F.to_date("ingest_ts") == F.to_date("valid_ts")
    # exact lattice sums: the revenue pair feeds a DIFFERENCE — see the
    # oracle comment (signed-zero class, r6). The published doubles are
    # exact 2-dp values on both engines, so restatement is a deterministic
    # subtraction of identical lattice doubles (never -0.0: a == b gives
    # +0.0 in IEEE).
    daily = bt.groupBy(F.to_date("valid_ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_final"),
        exact_round_sum(F.col("value"), 2).alias("rev_final"),
        exact_round_sum(
            F.when(same_day, F.col("value")).otherwise(0.0), 2
        ).alias("rev_known"),
        F.sum(F.when(~same_day, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
    )
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "n_final",
        "n_late",
        F.col("rev_known").alias("rev_known_at_day_end"),
        F.col("rev_final"),
        F.round(F.col("rev_final") - F.col("rev_known"), 2).alias(
            "restatement"
        ),
    ).transform(sort_result, "day")


@register(
    "join_scd2_point_in_time",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS ts,
               event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_state
        FROM events WHERE user_id < 10
    ),
    changes AS (
        SELECT user_id, state, ts, event_id FROM seq
        WHERE prev_state IS NULL OR prev_state <> state
    ),
    dim AS (
        SELECT user_id, state,
               ts AS valid_from,
               COALESCE(LEAD(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ), TIMESTAMP '9999-12-31') AS valid_to,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS version
        FROM changes
    ),
    facts AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events
        WHERE event_type = 'purchase' AND user_id < 10
    )
    SELECT f.event_id, f.user_id, f.ts,
           ROUND(f.value, 4) AS value,
           d.state AS state_at_purchase,
           d.version AS state_version
    FROM facts f JOIN dim d
      ON d.user_id = f.user_id
     AND f.ts >= d.valid_from AND f.ts < d.valid_to
    ORDER BY f.event_id
    """,
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join: each purchase fact picks up the SCD2
    state version that was VALID AT the fact's timestamp ([valid_from,
    valid_to) interval containment) — the canonical warehouse temporal
    join that makes historical reports reproducible (joining the CURRENT
    dimension row silently backdates attributes). The dimension is the
    SCD2 history `events_scd2_user_state` builds; open intervals close at
    a sentinel so `is_current` rows join too.

    Scale shape: because SCD2 intervals PARTITION time per key, "the
    version valid at ts" ≡ "the latest version with valid_from ≤ ts whose
    interval is non-empty at ts" — a backward AS-OF, not an interval join.
    The equi+interval-residual form hash-joins on user_id and enumerates
    |facts_u| × |versions_u| pairs per user before the containment filter
    (the skew probe measured ×10.4 on a 40%-hot-user corpus); the as-of
    form is the union+running-window merge — one shuffle, one sort, ZERO
    pair enumeration, hot users cost O(n log n) in their own rows. Facts
    sort after dim rows at equal (ts); among same-ts versions the highest
    version wins, whose valid_to is provably > ts — so empty [ts, ts)
    intervals match nothing, byte-identical to the interval-join oracle."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
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
    dim = changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    # union + running window: dim rows carry (state, version), facts carry
    # the payload; sort (ts, version NULLS LAST… facts after dims at equal
    # ts via _side) and take the last non-null dim row at or before each
    # fact. A fact earlier than the first version matches nothing (inner
    # interval-join semantics) — its fill is null and is filtered.
    d_side = dim.select(
        "user_id",
        F.col("valid_from").alias("_t"),
        F.lit(0).alias("_side"),
        "version",
        "state",
        F.lit(None).cast(facts.schema["event_id"].dataType).alias("event_id"),
        F.lit(None).cast(facts.schema["value"].dataType).alias("value"),
    )
    f_side = facts.select(
        "user_id",
        F.col("ts").alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("bigint").alias("version"),
        F.lit(None).cast("string").alias("state"),
        "event_id",
        "value",
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("_t", "_side", "version")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = d_side.unionByName(f_side).select(
        "user_id",
        "_t",
        "_side",
        "event_id",
        "value",
        F.last("state", ignorenulls=True).over(wrun).alias("state_at_purchase"),
        F.last("version", ignorenulls=True).over(wrun).alias("state_version"),
    )
    return (
        filled.filter((F.col("_side") == 1) & F.col("state_version").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("_t").alias("ts"),
            F.round("value", 4).alias("value"),
            "state_at_purchase",
            "state_version",
        )
        .transform(sort_result, "event_id")
    )


_ABS_DOUBLINGS = 7  # S_128 = sum of Q^k, k < 128 — residual ~rho^128, far below 6 dp


@register(
    "events_markov_absorption",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    probs AS (
        SELECT event_type AS i, next_type AS j,
               ROUND(COUNT(*) * 1.0
                     / SUM(COUNT(*)) OVER (PARTITION BY event_type), 9) AS p
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    p1 AS MATERIALIZED (
        SELECT i, j, p FROM probs
        WHERE i <> 'purchase' AND j <> 'purchase'
    ),
    states AS (SELECT DISTINCT i FROM p1),
    s1 AS MATERIALIZED (
        SELECT i, i AS j, 1.0 AS p FROM states
    ),
    {','.join(f'''s{2 ** (d + 1)} AS MATERIALIZED (
        SELECT i, j, ROUND(SUM(p), 9) AS p FROM (
            SELECT i, j, p FROM s{2 ** d}
            UNION ALL
            SELECT a.i, b.j, a.p * b.p
            FROM s{2 ** d} a JOIN p{2 ** d} b ON a.j = b.i
        ) GROUP BY i, j
    ),
    p{2 ** (d + 1)} AS MATERIALIZED (
        SELECT a.i AS i, b.j AS j, ROUND(SUM(a.p * b.p), 9) AS p
        FROM p{2 ** d} a JOIN p{2 ** d} b ON a.j = b.i
        GROUP BY a.i, b.j
    )''' for d in range(_ABS_DOUBLINGS))}
    SELECT i AS from_state, j AS to_state,
           ROUND(p, 6) AS expected_visits
    FROM s{2 ** _ABS_DOUBLINGS}
    ORDER BY from_state, to_state
    """,
)
def events_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain analysis: treat 'purchase' as the absorbing state
    and compute the fundamental matrix N = (I−Q)⁻¹ — N[i,j] = expected
    visits to transient state j on a journey starting at i before the
    user converts; row sums are expected journey LENGTH. The third member
    of the Markov family: one-step (`events_transition_matrix`),
    equilibrium (`events_markov_stationary`), and absorption (this).

    The inverse is never formed: N = Σ Q^k, computed by the DOUBLING
    identity S₂ₙ = Sₙ + Sₙ·Pₙ, P₂ₙ = Pₙ·Pₙ — 7 doublings give the
    128-term series whose residual (ρ(Q)¹²⁸) is far below the 6-dp
    output rounding. Same one-row matrix algebra (functions/matrix.py)
    and per-step 9-dp fixed point as the stationary query; Q is P with
    the purchase row and column absent, and the series starts from the
    identity over the states that have a transient successor."""
    m = _markov_dense(spark, sf_dir)
    labels, k = F.col("labels"), F.size("labels")
    q0 = where(F.col("cells"), labels, lambda li, lj: (li != "purchase") & (lj != "purchase"))
    s_k = let(q0, lambda q: _series(
        identity(labels, lambda _, a: total(F.slice(q, a * k + 1, k)).isNotNull()),
        q, k, _ABS_DOUBLINGS, lambda acc: acc["s"],
    ))
    return long(m.select("labels", s_k.alias("cells"))).select(
        F.col("i").alias("from_state"),
        F.col("j").alias("to_state"),
        F.round("p", 6).alias("expected_visits"),
    ).orderBy("from_state", "to_state")


def _series(s0: Column, q0: Column, k: Column, doublings: int, finish) -> Column:
    """The series-doubling iteration S₂ₙ = round(Sₙ + Sₙ·Qₙ, 9),
    Q₂ₙ = round(Qₙ·Qₙ, 9) from (S₁, Q₁) = (``s0``, ``q0``): after d
    doublings S = Σ Q₁^t, t < 2^d. ``finish`` maps the last (s, q)."""
    return iterate(F.struct(s0.alias("s"), q0.alias("q")), doublings, lambda acc: F.struct(
        _round9(add(acc["s"], product(acc["s"], acc["q"], k))).alias("s"),
        _round9(product(acc["q"], acc["q"], k)).alias("q"),
    ), finish)


# ---------------------------------------------------------------------------
# Process-mining conformance: event-sequence FSM rule checking
# ---------------------------------------------------------------------------


@register(
    "events_fsm_conformance",
    oracle="""
    WITH lagged AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER w AS prev_type,
               lag(ts) OVER w AS prev_ts,
               row_number() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id)
                   AS type_seq
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    rules AS (
        SELECT 'purchase_needs_recent_engagement' AS rule,
               COUNT(*) AS n_checked,
               SUM(CASE WHEN prev_type IS NULL
                        OR prev_type NOT IN ('click', 'view')
                        OR ts - prev_ts > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END) AS n_violations
        FROM lagged WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'no_rapid_repeated_error', COUNT(*),
               SUM(CASE WHEN prev_type = 'error'
                        AND ts - prev_ts <= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END)
        FROM lagged WHERE event_type = 'error'
        UNION ALL
        SELECT 'signup_at_most_once', COUNT(*),
               SUM(CASE WHEN type_seq >= 2 THEN 1 ELSE 0 END)
        FROM lagged WHERE event_type = 'signup'
    )
    SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           ROUND(n_violations * 1.0 / n_checked, 4) AS violation_rate
    FROM rules ORDER BY rule
    """,
)
def events_fsm_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining conformance checking: declare the journey contract as
    transition rules over each user's ordered event sequence (a purchase
    must follow engagement within 30 min; errors must not repeat within
    10 min; signup happens at most once) and report per-rule check and
    violation counts — the scorecard shape a funnel/SLA monitor emits. The
    high violation rates on the synthetic stream are the measurement, not
    a bug: conformance checking is exactly how you LEARN your event stream
    doesn't match the designed FSM. Complements `events_transition_matrix`
    (descriptive probabilities) with normative pass/fail semantics.

    Plan: ONE user-keyed window shuffle serves lag(type), lag(ts), AND the
    per-(user, type) ordinal; the three rules are conditional aggregates
    unioned on 3 one-row frames. Adding a rule adds a branch, never a
    scan."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = e.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
        F.row_number().over(wt).alias("type_seq"),
    )
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    r1 = lagged.filter(F.col("event_type") == "purchase").agg(
        F.lit("purchase_needs_recent_engagement").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when(
                F.col("prev_type").isNull()
                | ~F.col("prev_type").isin("click", "view")
                | (gap_us > 30 * 60 * 1_000_000),
                1,
            ).otherwise(0)
        ).alias("n_violations"),
    )
    r2 = lagged.filter(F.col("event_type") == "error").agg(
        F.lit("no_rapid_repeated_error").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when(
                (F.col("prev_type") == "error") & (gap_us <= 10 * 60 * 1_000_000),
                1,
            ).otherwise(0)
        ).alias("n_violations"),
    )
    r3 = lagged.filter(F.col("event_type") == "signup").agg(
        F.lit("signup_at_most_once").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("type_seq") >= 2, 1).otherwise(0)).alias(
            "n_violations"
        ),
    )
    return (
        r1.unionByName(r2)
        .unionByName(r3)
        .select(
            "rule",
            F.col("n_checked").cast("bigint").alias("n_checked"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
            F.round(
                F.col("n_violations") / F.col("n_checked"), 4
            ).alias("violation_rate"),
        )
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (composes the absorbing-chain solver)
# ---------------------------------------------------------------------------

_RE_DOUBLINGS = 6  # 64-term series; residual well below 6-dp rounding
_RE_CHANNELS = ("click", "error", "signup", "view")


def _removal_variant_ctes(v: str, excl: str | None) -> str:
    ex = f"('{excl}')" if excl else "('__none__')"
    parts = [
        f"""q1_{v} AS MATERIALIZED (
        SELECT i, j, p FROM pfull
        WHERE i <> 'purchase' AND j <> 'purchase'
          AND i NOT IN {ex} AND j NOT IN {ex}
    ),
    r_{v} AS MATERIALIZED (
        SELECT i, p FROM pfull
        WHERE j = 'purchase' AND i <> 'purchase' AND i NOT IN {ex}
    ),
    st_{v} AS (SELECT DISTINCT ch AS i FROM channels WHERE ch NOT IN {ex}),
    s1_{v} AS MATERIALIZED (SELECT i, i AS j, 1.0 AS p FROM st_{v})"""
    ]
    for d in range(_RE_DOUBLINGS):
        a, b = 2 ** d, 2 ** (d + 1)
        parts.append(
            f"""s{b}_{v} AS MATERIALIZED (
        SELECT i, j, ROUND(SUM(p), 9) AS p FROM (
            SELECT i, j, p FROM s{a}_{v}
            UNION ALL
            SELECT x.i, y.j, x.p * y.p
            FROM s{a}_{v} x JOIN q{a}_{v} y ON x.j = y.i
        ) GROUP BY i, j
    ),
    q{b}_{v} AS MATERIALIZED (
        SELECT x.i, y.j, ROUND(SUM(x.p * y.p), 9) AS p
        FROM q{a}_{v} x JOIN q{a}_{v} y ON x.j = y.i GROUP BY x.i, y.j
    )"""
        )
    parts.append(
        f"""b_{v} AS (
        SELECT s.i, ROUND(SUM(s.p * r.p), 9) AS p
        FROM s{2 ** _RE_DOUBLINGS}_{v} s JOIN r_{v} r ON s.j = r.i
        GROUP BY s.i
    ),
    conv_{v} AS (
        SELECT ROUND(
            COALESCE((SELECT SUM(sd.w * b.p) FROM start_dist sd
                      JOIN b_{v} b ON sd.i = b.i), 0)
            + COALESCE((SELECT w FROM start_dist WHERE i = 'purchase'), 0),
        9) AS conv
    )"""
    )
    return ",\n    ".join(parts)


def _removal_oracle() -> str:
    base = """
    ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    counts AS (
        SELECT event_type AS i, COUNT(*) * 1.0 AS n FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT event_type AS i, next_type AS j, COUNT(*) * 1.0 AS c
        FROM ordered WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    pfull AS MATERIALIZED (
        SELECT p.i, p.j, ROUND(p.c / n.n, 9) AS p
        FROM pairs p JOIN counts n ON p.i = n.i
    ),
    channels AS (
        SELECT DISTINCT event_type AS ch FROM events
        WHERE event_type <> 'purchase'
    ),
    firsts AS (
        SELECT user_id, i FROM (
            SELECT user_id, event_type AS i,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events) WHERE rn = 1
    ),
    start_dist AS MATERIALIZED (
        SELECT i, ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM firsts), 9) AS w
        FROM firsts GROUP BY i
    )"""
    variants = [("full", None)] + [(c, c) for c in _RE_CHANNELS]
    all_ctes = (
        base
        + ",\n    "
        + ",\n    ".join(_removal_variant_ctes(v, e) for v, e in variants)
    )
    sel = " UNION ALL ".join(
        f"SELECT '{c}' AS channel, "
        f"(SELECT conv FROM conv_full) AS conv_full, "
        f"(SELECT conv FROM conv_{c}) AS conv_removed"
        for c in _RE_CHANNELS
    )
    return f"""WITH {all_ctes}
    , eff AS (
        SELECT channel, conv_full, conv_removed,
               CASE WHEN conv_full = 0 THEN 0.0
                    ELSE ROUND(1 - conv_removed / conv_full, 9)
               END AS removal_effect
        FROM ({sel})
    )
    SELECT channel, ROUND(conv_full, 6) AS conv_full,
           ROUND(conv_removed, 6) AS conv_removed,
           ROUND(removal_effect, 6) AS removal_effect,
           CASE WHEN SUM(removal_effect) OVER () = 0 THEN 0.0
                ELSE ROUND(removal_effect / SUM(removal_effect) OVER (), 6)
           END AS attribution
    FROM eff ORDER BY channel
    """


@register("events_markov_removal_attribution", oracle=_removal_oracle())
def events_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014 — the
    data-driven alternative to last-click/linear rules): model journeys as
    an absorbing chain where 'purchase' converts and the unobserved
    next-step mass (journey end) silently absorbs to NULL, then credit
    each channel by how much the overall conversion probability DROPS when
    that channel is deleted from the graph: effect(c) = 1 −
    P(conv | G∖c) / P(conv | G), normalized into attribution shares.
    Completes the attribution pair with `events_linear_attribution`
    (positional rule) and the Markov family (transition → stationary →
    absorption → counterfactual removal).

    Composition is the point: FIVE absorbing-chain solves (full graph +
    one per removed channel), each reusing `events_markov_absorption`'s
    series-doubling identity (S₂ₙ = Sₙ + Sₙ·Pₙ; 6 doublings = 64 series
    terms, residual ≪ the 6-dp rounding) with the same 9-dp per-step
    fixed-point discipline so both engines walk identical lattices.
    Absorption probabilities b = S·r (r = one-step conversion column);
    conversion aggregates b over each user's FIRST event (start
    distribution). NULL-absorption falls out of normalizing transition
    counts by TOTAL state occupancy (last events have no successor — the
    missing row mass IS the exit probability), so no synthetic NULL state
    is materialized.

    Scale: one user-sequence window yields the pair counts, the occupancy
    totals and the first events. The matrix is one row (functions/matrix.py)
    and the five solves are five rows of one frame, each with its removed
    channel's cells absent — vocabulary-sized algebra in the query's own
    plan, no rescans and no build job."""
    from pyspark.sql import Window

    by_i, everyone = Window.partitionBy("i"), Window.partitionBy()
    starts = F.sum("starts").over(by_i)
    counts = transition_counts(load_table(spark, sf_dir, "events")).select(
        "i", "j", F.round(F.col("n") / F.sum("n").over(by_i), 9).alias("p"),
        F.when(starts > 0, F.round(starts / F.sum("starts").over(everyone), 9))
        .alias("w"),
    )
    # the start distribution w[i] rides along as a map, one entry per type;
    # the NULL channel is the full graph
    variants = dense(
        counts, F.map_from_entries(F.collect_set(F.struct("i", "w"))).alias("w")
    ).withColumn("channel", F.explode(
        F.array(F.lit(None).cast("string"), *map(F.lit, _RE_CHANNELS))
    ))
    labels, k, w = F.col("labels"), F.size("labels"), F.col("w")

    def kept(li: Column) -> Column:
        return (li != "purchase") & ~li.eqNullSafe(F.col("channel"))

    def conversion(acc: Column) -> Column:
        # b = S·r only has the purchase column; conv = Σ w[i]·b[i] over
        # the starts that reach it, plus the users who start converted
        r = where(F.col("cells"), labels, lambda li, lj: kept(li) & (lj == "purchase"))
        via_chain = let(_round9(product(acc["s"], r, k)), lambda b: total(F.transform(
            labels, lambda li, a: w[li] * total(F.slice(b, a * k + 1, k))
        )))
        direct = F.coalesce(w[F.lit("purchase")], F.lit(0.0))
        return F.round(F.coalesce(via_chain, F.lit(0.0)) + direct, 9)

    conv = _series(
        identity(labels, lambda li, _: kept(li)),
        where(F.col("cells"), labels, lambda li, lj: kept(li) & kept(lj)),
        k, _RE_DOUBLINGS, conversion,
    )
    conv_full = F.max(F.when(F.col("channel").isNull(), F.col("conv")))
    # Zero guards (round-3 advice), mirrored in the oracle: a slice with no
    # observed conversions (conv_full = 0) or all-zero removal effects
    # degrades to clean 0.0 rows instead of null/NaN attribution.
    eff = (
        variants.select("channel", conv.alias("conv"))
        .select(
            "channel",
            conv_full.over(everyone).alias("conv_full"),
            F.col("conv").alias("conv_removed"),
        )
        .filter(F.col("channel").isNotNull())
        .withColumn("removal_effect", F.when(F.col("conv_full") == 0, 0.0).otherwise(
            F.round(1.0 - F.col("conv_removed") / F.col("conv_full"), 9)
        ))
    )
    tot_eff = F.sum("removal_effect").over(everyone)
    return eff.select(
        "channel",
        F.round("conv_full", 6).alias("conv_full"),
        F.round("conv_removed", 6).alias("conv_removed"),
        F.round("removal_effect", 6).alias("removal_effect"),
        F.when(tot_eff == 0, F.lit(0.0))
        .otherwise(F.round(F.col("removal_effect") / tot_eff, 6))
        .alias("attribution"),
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Entropy rate of the session Markov chain
# ---------------------------------------------------------------------------


@register(
    "events_markov_entropy_rate",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    p0 AS MATERIALIZED (
        SELECT event_type AS i, next_type AS j,
               ROUND(COUNT(*) * 1.0
                     / SUM(COUNT(*)) OVER (PARTITION BY event_type), 9) AS p
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    {','.join(
        f'''p{t} AS MATERIALIZED (
        SELECT x.i AS i, y.j AS j, ROUND(SUM(x.p * y.p), 9) AS p
        FROM p{t - 1} x JOIN p{t - 1} y ON x.j = y.i
        GROUP BY x.i, y.j
    )''' for t in range(1, _MKV_SQUARINGS + 1)
    )},
    pi_raw AS (
        SELECT j AS i, AVG(p) AS pi FROM p{_MKV_SQUARINGS} GROUP BY j
    ),
    norm AS (SELECT SUM(pi) AS z FROM pi_raw),
    pi AS (
        SELECT i, ROUND(pi / (SELECT z FROM norm), 9) AS pi FROM pi_raw
    ),
    hrow AS (
        SELECT i, ROUND(-SUM(p * LN(p)), 9) AS h FROM p0 GROUP BY i
    ),
    joined AS (
        SELECT pi.i AS event_type, pi.pi, hrow.h
        FROM pi JOIN hrow ON pi.i = hrow.i
    )
    /* spark_round_sql publishes: a funnel state with ONE outgoing
       transition has h = -SUM(1·ln 1) = IEEE -0.0, and DuckDB ROUND
       keeps the sign where Spark's BigDecimal path normalizes to +0
       (caught live by the r9 sparse nullworld, seed 9178); contribution
       and the chain rate inherit the signed zero through pi·h. */
    SELECT event_type,
           ROUND(pi, 6) AS stationary_p,
           {spark_round_sql('h', 6)} AS state_entropy_nats,
           {spark_round_sql('pi * h', 6)} AS contribution,
           {spark_round_sql('SUM(pi * h) OVER ()', 6)} AS chain_entropy_rate
    FROM joined
    ORDER BY event_type
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy RATE of the session chain: H = -sum_i pi_i sum_j p_ij ln p_ij
    (nats per step) — how unpredictable the NEXT event is once you know
    the current one, weighted by where journeys actually spend time.
    Completes the information-theoretic pair with
    `stats_entropy_event_types` (static marginal entropy): marginal H
    ignores sequence structure, the rate is the sequential predictability
    bound a next-event model (`events_markov_stationary`'s chain, the
    bigram LM) can at best achieve. Per-state rows expose WHICH states are
    the unpredictable ones (high h = chaotic fan-out, low h = funnel).

    Composition: pi comes from the same 5-squaring P^32 machinery as
    `events_markov_stationary` (9-dp lockstep); row entropies come from
    the one-step matrix in the same row; the rate is a |types|-row
    weighted sum. One corpus-wide window shuffle; everything else is
    vocabulary-sized and runs in the query's own plan."""
    from pyspark.sql import Window

    k, everyone = F.size("labels"), Window.partitionBy()
    # h[i] = round(-Σ_j p ln p, 9) over row i's present cells; NULL for a
    # row with no transitions (the oracle's inner join drops that state)
    h = let(F.col("cells"), lambda p: F.transform(indices(k), lambda a: F.round(
        -total(F.transform(F.slice(p, a * k + 1, k), lambda x: x * F.log(x))), 9
    )))
    pk = long(_markov_dense(spark, sf_dir).select(
        "labels",
        _squared(F.col("cells"), k).alias("cells"),
        F.map_from_arrays("labels", h).alias("h"),
    ), "h")
    pi_raw = pk.groupBy(
        F.col("j").alias("i"), F.col("h")[F.col("j")].alias("h")
    ).agg(F.avg("p").alias("pi_r"))
    z = F.sum("pi_r").over(everyone)
    joined = pi_raw.select(
        "i",
        "h",
        # same z=0 guard as events_markov_stationary (leaky chain decays
        # to all-zero mass at 9 dp — sparse-world fuzz): DuckDB NULLs,
        # Spark ANSI raises
        F.round(F.when(z > 0, F.col("pi_r") / z), 9).alias("pi"),
    ).filter(F.col("h").isNotNull())
    return joined.select(
        F.col("i").alias("event_type"),
        F.round("pi", 6).alias("stationary_p"),
        F.round("h", 6).alias("state_entropy_nats"),
        F.round(F.col("pi") * F.col("h"), 6).alias("contribution"),
        F.round(F.sum(F.col("pi") * F.col("h")).over(everyone), 6).alias(
            "chain_entropy_rate"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Cohort LTV curve
# ---------------------------------------------------------------------------


@register(
    "events_cohort_ltv_curve",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    rev AS (
        SELECT f.cohort, e.user_id,
               CAST(floor(date_diff('day', f.cohort, e.ts) / 7) AS BIGINT)
                   AS week_offset,
               e.value AS v
        FROM events e JOIN firsts f USING (user_id)
        WHERE e.event_type = 'purchase'
    ),
    weekly AS (
        SELECT cohort, week_offset,
               SUM(CAST(ROUND(v * 100, 0) AS BIGINT)) AS wrev_c,
               COUNT(DISTINCT user_id) AS active_users
        FROM rev GROUP BY cohort, week_offset
    ),
    sized AS (SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort),
    cum AS (
        SELECT w.cohort, w.week_offset,
               CAST(s.cohort_size AS BIGINT) AS cohort_size,
               CAST(w.active_users AS BIGINT) AS active_buyers,
               SUM(w.wrev_c) OVER (
                   PARTITION BY w.cohort ORDER BY w.week_offset) AS cum_c
        FROM weekly w JOIN sized s USING (cohort)
    )
    SELECT cohort, week_offset, cohort_size, active_buyers,
           {exact_round_ratio_sql("cum_c", "cohort_size * 100", 4)}
               AS cum_ltv_per_user
    FROM cum
    ORDER BY cohort, week_offset
    """,
)
def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by the ISO week of their
    first event, cumulative purchase revenue per cohort member by week
    offset — the growth-analytics table behind every LTV/CAC decision, and
    the revenue-weighted complement of `events_weekly_cohort_retention`
    (who comes back vs what they're worth). Cohort weeks use
    date_trunc('week') — Monday-aligned in BOTH engines — rather than
    7-day tumbling buckets, because DuckDB's time_bucket anchors
    multi-day intervals at 2000-01-03 while Spark windows anchor at the
    1970 epoch: a 4-day phase shift that silently misaligns week
    boundaries (pinned here as the discipline for calendar-week twins).

    Plan: first-touch per user (one user-key aggregate), cohort broadcast
    back onto purchases, weekly rollup, then the cumulative sum runs per
    cohort over |weeks| rows. Event volume is touched exactly twice, both
    map-reduce shapes."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(firsts), "user_id")
        .select(
            "cohort",
            "user_id",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort").cast("date"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
            F.col("value").alias("v"),
        )
    )
    # weekly revenue as an exact cent sum: the cumulative LTV per user is
    # then an integer rational (cents over 100·cohort_size), which can sit
    # exactly on a 4-dp half-way point — rounded without ever rounding a
    # double (functions/exact.py; an sf0.1 redraw-fuzz world caught the
    # double-path variant flipping a …5 boundary)
    weekly = rev.groupBy("cohort", "week_offset").agg(
        F.sum(F.round(F.col("v") * 100, 0).cast("long")).alias("wrev_c"),
        F.countDistinct("user_id").alias("active_users"),
    )
    sized = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cum = Window.partitionBy("cohort").orderBy("week_offset")
    return (
        weekly.join(F.broadcast(sized), "cohort")
        .select(
            "cohort",
            "week_offset",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.col("active_users").cast("bigint").alias("active_buyers"),
            exact_round_ratio(
                F.sum("wrev_c").over(cum), F.col("cohort_size") * 100, 4
            ).alias("cum_ltv_per_user"),
        )
        .transform(sort_result, "cohort", "week_offset")
    )


# ---------------------------------------------------------------------------
# DAU / WAU / MAU stickiness
# ---------------------------------------------------------------------------


@register(
    "events_dau_wau_mau_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    spine AS (SELECT DISTINCT d FROM ud),
    m AS (
        SELECT s.d,
               COUNT(DISTINCT CASE WHEN u.d = s.d THEN u.user_id END) AS dau,
               COUNT(DISTINCT CASE WHEN u.d > s.d - INTERVAL '7 days'
                                   THEN u.user_id END) AS wau,
               COUNT(DISTINCT u.user_id) AS mau
        FROM spine s JOIN ud u
          ON u.d <= s.d AND u.d > s.d - INTERVAL '30 days'
        GROUP BY s.d
    )
    SELECT d, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           ROUND(dau * 1.0 / mau, 4) AS stickiness
    FROM m ORDER BY d
    """,
)
def events_dau_wau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU + DAU/MAU stickiness per day — THE growth dashboard's
    first row. Trailing distinct-user windows can't be window frames
    (COUNT DISTINCT doesn't slide), so the standard shape is: dedupe to
    the user-day frame (the one expensive pass over raw events, after
    which everything is |users x active-days|), then a day-spine range
    join counts each trailing window with conditional distincts — one
    join whose fan-out is bounded by 30 rows per user-day, independent of
    event volume. Complements `events_weekly_cohort_retention` (cohort
    view) with the calendar view.

    Scale: raw events touched once (the DISTINCT user-day rollup); the
    range join and triple distinct run on the compacted frame. At 1e9
    users swap the exact distincts for per-day HLL sketches merged over
    the window (`agg_approx_sketches` shows the sketch idiom); the spine
    join shape is unchanged."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    spine = ud.select("d").distinct().select(F.col("d").alias("sd"))
    joined = spine.join(
        ud,
        (F.col("d") <= F.col("sd"))
        & (F.col("d") > F.col("sd") - F.expr("INTERVAL 30 DAYS")),
    )
    m = joined.groupBy("sd").agg(
        F.countDistinct(
            F.when(F.col("d") == F.col("sd"), F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(
                F.col("d") > F.col("sd") - F.expr("INTERVAL 7 DAYS"),
                F.col("user_id"),
            )
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
    )
    return m.select(
        F.col("sd").alias("d"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.col("mau").cast("bigint").alias("mau"),
        F.round(F.col("dau") / F.col("mau"), 4).alias("stickiness"),
    ).transform(sort_result, "d")


# ---------------------------------------------------------------------------
# Composite bot-detection screen
# ---------------------------------------------------------------------------


@register(
    "events_bot_detection_screen",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, COUNT(*) * 1.0 AS n_events,
               COUNT(*) * 86400.0
                   / GREATEST(epoch(MAX(ts) - MIN(ts)), 1) AS events_per_day
        FROM events GROUP BY user_id
    ),
    gaps AS (
        SELECT user_id, stddev_samp(gap) / NULLIF(AVG(gap), 0) AS cv
        FROM (
            SELECT user_id,
                   epoch(ts - lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)) AS gap
            FROM events
        ) WHERE gap IS NOT NULL
        GROUP BY user_id
    ),
    ent AS (
        SELECT user_id, -SUM(p * ln(p)) AS type_entropy
        FROM (
            SELECT user_id,
                   COUNT(*) * 1.0
                       / SUM(COUNT(*)) OVER (PARTITION BY user_id) AS p
            FROM events GROUP BY user_id, event_type
        ) GROUP BY user_id
    ),
    feat AS (
        SELECT p.user_id, p.n_events, p.events_per_day, g.cv, e.type_entropy,
               CAST(CASE WHEN p.events_per_day > 80 THEN 1 ELSE 0 END
                    + CASE WHEN g.cv < 0.85 THEN 1 ELSE 0 END
                    + CASE WHEN e.type_entropy < 1.55 THEN 1 ELSE 0 END
                    AS BIGINT) AS bot_score
        FROM per_user p JOIN gaps g USING (user_id) JOIN ent e USING (user_id)
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           ROUND(events_per_day, 2) AS events_per_day,
           ROUND(cv, 4) AS interarrival_cv,
           /* a single-type user's entropy is -SUM(1·ln 1) = -0.0: Spark's
              ROUND normalizes the sign, DuckDB's keeps it (sparse-world
              fuzz) — publish via spark_round_sql */
           {spark_round_sql('type_entropy', 4)} AS type_entropy, bot_score
    FROM feat
    ORDER BY bot_score DESC, events_per_day DESC, user_id LIMIT 10
    """,
)
def events_bot_detection_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite bot/abuse screen: three independent behavioral signals per
    user — sustained rate (events/day over the active span), inter-arrival
    REGULARITY (CV < 0.85: humans are bursty, schedulers are metronomes —
    the per-user application of `events_interarrival_burstiness`), and
    action-type entropy (low = repetitive single-action loops) — summed
    into a rule score, top suspects reported with the evidence columns a
    reviewer needs. The standard first-line abuse triage before any ML
    model exists; each rule threshold is an auditable constant, and
    swapping a learned score for the rule sum changes one expression.

    Plan: three per-user aggregates sharing the user_id shuffle key (rate
    rollup, lag-window gaps, type-entropy sub-aggregate), joined on the
    compact user frame; TakeOrderedAndProject emits the triage queue."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    span = F.greatest(
        F.expr("timestampdiff(MICROSECOND, MIN(ts), MAX(ts))") / 1e6,
        F.lit(1.0),
    )
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        (F.count(F.lit(1)) * 86400.0 / span).alias("events_per_day"),
    )
    gap = (
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
        )
        / 1e6
    )
    gaps = (
        e.select("user_id", gap.alias("gap"))
        .filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            (
                F.stddev_samp("gap")
                / F.when(F.avg("gap") != 0, F.avg("gap"))
            ).alias("cv")
        )
    )
    tp = Window.partitionBy("user_id")
    ent = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .select(
            "user_id", (F.col("c") / F.sum("c").over(tp)).alias("p")
        )
        .groupBy("user_id")
        .agg((-F.sum(F.col("p") * F.log("p"))).alias("type_entropy"))
    )
    feat = per_user.join(gaps, "user_id").join(ent, "user_id")
    score = (
        F.when(F.col("events_per_day") > 80, 1).otherwise(0)
        + F.when(F.col("cv") < 0.85, 1).otherwise(0)
        + F.when(F.col("type_entropy") < 1.55, 1).otherwise(0)
    ).cast("bigint")
    return (
        feat.select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round("events_per_day", 2).alias("events_per_day"),
            F.round("cv", 4).alias("interarrival_cv"),
            F.round("type_entropy", 4).alias("type_entropy"),
            score.alias("bot_score"),
        )
        .orderBy(F.desc("bot_score"), F.desc("events_per_day"), "user_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Windowed funnel depth (ClickHouse windowFunnel shape)
# ---------------------------------------------------------------------------


@register(
    "events_window_funnel_depth",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
          AND e.ts <= v.t1 + INTERVAL '1 hour'
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
          AND e.ts <= v.t1 + INTERVAL '1 hour'
        GROUP BY e.user_id
    ),
    depth AS (
        SELECT v.user_id,
               CASE WHEN p.user_id IS NOT NULL THEN 3
                    WHEN c.user_id IS NOT NULL THEN 2
                    ELSE 1 END AS funnel_depth
        FROM v LEFT JOIN c ON v.user_id = c.user_id
               LEFT JOIN p ON v.user_id = p.user_id
    )
    SELECT funnel_depth, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 4) AS share
    FROM depth GROUP BY funnel_depth ORDER BY funnel_depth
    """,
)
def events_window_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed funnel depth — the ClickHouse `windowFunnel` shape this
    engine otherwise lacks: starting from each user's FIRST view, how far
    through view -> click -> purchase they get with the whole chain
    confined to ONE hour (the ordered-within-deadline semantics;
    `events_signup_to_purchase_funnel` is the unboxed lifetime funnel,
    and the near-total depth-1 reading here is exactly what a 1 h
    deadline does to a ~21 min-median-gap stream — the deadline is the
    finding). Semantics pinned as first-attempt anchoring (earliest
    qualifying event per stage), which keeps every stage a keyed MIN
    instead of a sequential scan.

    Plan: one read of the three funnel types, shuffled once on user_id;
    stage k's anchor is a MIN over the user window of the rows that
    qualify against stage k-1's anchor (two stacked windows on the same
    partitioning), and the per-user depth is one keyed aggregate — no
    per-user state beyond the user's own rows."""
    from pyspark.sql import Window

    user = Window.partitionBy("user_id")
    typ, ts = F.col("event_type"), F.col("ts")
    deadline = F.col("t1") + F.expr("INTERVAL 1 HOUR")
    depth = (
        load_table(spark, sf_dir, "events")
        .filter(typ.isin("view", "click", "purchase"))
        .withColumn("t1", F.min(F.when(typ == "view", ts)).over(user))
        .filter(F.col("t1").isNotNull())
        .withColumn(
            "t2",
            F.min(
                F.when((typ == "click") & (ts > F.col("t1")) & (ts <= deadline), ts)
            ).over(user),
        )
        .groupBy("user_id")
        .agg(
            F.when(
                F.max(
                    (typ == "purchase") & (ts > F.col("t2")) & (ts <= deadline)
                ),
                3,
            )
            .when(F.max(F.col("t2").isNotNull()), 2)
            .otherwise(1)
            .alias("funnel_depth")
        )
    )
    wall = Window.partitionBy()
    return (
        depth.groupBy("funnel_depth")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            "funnel_depth",
            "n_users",
            F.round(
                F.col("n_users") / F.sum("n_users").over(wall), 4
            ).alias("share"),
        )
        .orderBy("funnel_depth")
    )


# ---------------------------------------------------------------------------
# Growth accounting: new / retained / resurrected / churned
# ---------------------------------------------------------------------------


@register(
    "events_growth_accounting",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ),
    firsts AS (SELECT user_id, MIN(w) AS fw FROM uw GROUP BY user_id),
    flags AS (
        SELECT u.user_id, u.w, f.fw,
               lag(u.w) OVER (PARTITION BY u.user_id ORDER BY u.w) AS prev_w
        FROM uw u JOIN firsts f USING (user_id)
    ),
    staged AS (
        SELECT w,
               CASE WHEN w = fw THEN 'new'
                    WHEN prev_w = w - INTERVAL '7 days' THEN 'retained'
                    ELSE 'resurrected' END AS stage
        FROM flags
    ),
    active AS (SELECT w, stage, COUNT(*) AS n FROM staged GROUP BY w, stage),
    churn AS (
        SELECT w + INTERVAL '7 days' AS w, 'churned' AS stage, COUNT(*) AS n
        FROM (
            SELECT user_id, w,
                   lead(w) OVER (PARTITION BY user_id ORDER BY w) AS next_w
            FROM uw
        )
        WHERE next_w IS NULL OR next_w > w + INTERVAL '7 days'
        GROUP BY w + INTERVAL '7 days'
    ),
    allr AS (
        SELECT * FROM active UNION ALL
        SELECT * FROM churn WHERE w <= (SELECT MAX(w) FROM uw)
    )
    SELECT w AS week, stage, CAST(n AS BIGINT) AS n_users
    FROM allr ORDER BY week, stage
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the weekly statement every growth team closes
    the books with: each active user is NEW (first week), RETAINED
    (active last week too), or RESURRECTED (returning after a gap), and
    CHURNED counts last week's actives who didn't return (the identity
    actives_t = new_t + retained_t + resurrected_t and retained_t =
    actives_{t−1} − churned_t is the net-growth decomposition).
    Calendar-weeks use Monday-aligned date_trunc on both engines (the
    cohort-LTV discipline). Complements retention (diagonal view) and
    DAU/MAU (volume view) with the flow view.

    Plan: one distinct user-week compaction, one user-keyed window that
    classifies each user-week's entry (first week / lag) and exit (lead),
    and one week-sized rollup over a ``stack`` of both — raw event volume
    touched once; the last-week cut-off for churn rows is a window over
    the rolled-up weeks."""
    from pyspark.sql import Window

    week = F.expr("INTERVAL 7 DAYS")
    wu = Window.partitionBy("user_id").orderBy("w")
    flags = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("w"))
        .distinct()
        .select(
            "w",
            F.min("w").over(Window.partitionBy("user_id")).alias("fw"),
            F.lag("w").over(wu).alias("prev_w"),
            F.lead("w").over(wu).alias("next_w"),
        )
    )
    stage = (
        F.when(F.col("w") == F.col("fw"), "new")
        .when(F.col("prev_w") == F.col("w") - week, "retained")
        .otherwise("resurrected")
    )
    churned = F.col("next_w").isNull() | (F.col("next_w") > F.col("w") + week)
    counts = (
        flags.select(
            F.inline(
                F.array(
                    F.struct(F.col("w"), stage.alias("stage")),
                    F.struct(
                        (F.col("w") + week).alias("w"),
                        F.when(churned, "churned").alias("stage"),
                    ),
                )
            )
        )
        .filter(F.col("stage").isNotNull())
        .groupBy("w", "stage")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mw = F.max(F.when(F.col("stage") != "churned", F.col("w"))).over(
        Window.partitionBy()
    )
    allr = counts.withColumn("mw", mw).filter(
        (F.col("stage") != "churned") | (F.col("w") <= F.col("mw"))
    )
    return allr.select(
        F.col("w").alias("week"),
        "stage",
        F.col("n").cast("bigint").alias("n_users"),
    ).orderBy("week", "stage")
