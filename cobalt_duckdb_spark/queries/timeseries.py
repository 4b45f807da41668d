"""Time-series pack over ``events``: pivot, multi-resolution rollup
(hypertable-style), gap-filled resampling, and funnel/sequence analysis.
These are the continuous-aggregate shapes a telemetry pipeline runs; each
has an exact SQL twin for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.exact import (
    exact_round_avg,
    exact_round_avg_sql,
    exact_round_ratio,
    exact_round_ratio_sql,
    spark_round_sql,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_type_totals",
    oracle="""
    /* COALESCE each cell: a user whose ONLY rows of a type carry NULL
       values sums to NULL on the oracle side, while the Spark twin
       coalesces pivot NULLs to 0 (null-world fuzz, r6) */
    SELECT user_id,
           COALESCE(ROUND(SUM(CASE WHEN event_type = 'click'    THEN value ELSE 0 END), 2), 0) AS click,
           COALESCE(ROUND(SUM(CASE WHEN event_type = 'error'    THEN value ELSE 0 END), 2), 0) AS error,
           COALESCE(ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2), 0) AS purchase,
           COALESCE(ROUND(SUM(CASE WHEN event_type = 'signup'   THEN value ELSE 0 END), 2), 0) AS signup,
           COALESCE(ROUND(SUM(CASE WHEN event_type = 'view'     THEN value ELSE 0 END), 2), 0) AS view
    FROM events WHERE user_id < 30
    GROUP BY user_id ORDER BY user_id
    """,
)
def pivot_event_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an explicit value list (the list makes the
    output schema static — REQUIRED at scale: an unlisted pivot runs an extra
    distinct-scan job and produces nondeterministic column order)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    out = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.round(F.sum("value"), 2))
        .transform(sort_result, "user_id")
    )
    # pivot leaves NULL where a user lacks that type; the CASE twin yields 0
    return out.select(
        "user_id",
        *[F.round(F.coalesce(t, F.lit(0.0)), 2).alias(t) for t in _EVENT_TYPES],
    )


@register(
    "events_multi_resolution_rollup",
    oracle="""
    WITH base AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    hourly AS (
        SELECT 'hour' AS resolution,
               time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM base GROUP BY 2
    ),
    daily AS (
        SELECT 'day' AS resolution,
               time_bucket(INTERVAL '1 day', ts) AS bucket_start,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM base GROUP BY 2
    )
    SELECT * FROM hourly UNION ALL SELECT * FROM daily
    ORDER BY resolution, bucket_start
    """,
)
def events_multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the same stream rolled up at
    hour and day resolution in one pass each, unioned with a resolution tag.
    At scale the daily rollup derives from the hourly one (re-aggregation of
    24 rows/day instead of re-scanning raw events) — expressed here exactly
    that way."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sum_cents"))
        .select(
            F.col("w.start").alias("bucket_start"),
            "n",
            "sum_cents",
        )
    )
    # day = re-aggregation of the hourly rollup, NOT a raw re-scan
    daily = (
        hourly.groupBy(F.window("bucket_start", "1 day").alias("w"))
        .agg(F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))
        .select(F.col("w.start").alias("bucket_start"), "n", "sum_cents")
    )
    out = hourly.select(F.lit("hour").alias("resolution"), "*").unionByName(
        daily.select(F.lit("day").alias("resolution"), "*")
    )
    return out.transform(sort_result, "resolution", "bucket_start")


@register(
    "events_gap_filled_minutes",
    oracle="""
    WITH bounds AS (
        SELECT time_bucket(INTERVAL '1 hour', MIN(CAST(ts AS TIMESTAMP))) AS t0,
               time_bucket(INTERVAL '1 hour', MAX(CAST(ts AS TIMESTAMP))) AS t1
        FROM events WHERE user_id = 7
    ),
    grid AS (
        SELECT unnest(generate_series((SELECT t0 FROM bounds),
                                      (SELECT t1 FROM bounds),
                                      INTERVAL '1 hour')) AS bucket_start
    ),
    actual AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket_start,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE user_id = 7 GROUP BY 1
    )
    SELECT g.bucket_start AS bucket_start,
           COALESCE(a.n, 0) AS n_events,
           (a.n IS NULL) AS gap_filled
    FROM grid g LEFT JOIN actual a ON g.bucket_start = a.bucket_start
    ORDER BY bucket_start
    """,
)
def events_gap_filled_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resample: a dense hourly grid (sequence + explode) left-
    joined to actual per-hour counts so silent hours materialize as zeros —
    the standard time-series densification before window smoothing."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 7)
    actual = (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "n")
    )
    grid = actual.agg(
        F.min("bucket_start").alias("t0"), F.max("bucket_start").alias("t1")
    ).select(
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket_start")
    )
    return (
        grid.join(actual, "bucket_start", "left")
        .select(
            "bucket_start",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.col("n").isNull().alias("gap_filled"),
        )
        .orderBy("bucket_start")
    )


@register(
    "events_signup_to_purchase_funnel",
    oracle="""
    WITH signups AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    converted AS (
        SELECT s.user_id, s.first_signup,
               MIN(CAST(e.ts AS TIMESTAMP)) AS first_purchase
        FROM signups s JOIN events e
          ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND CAST(e.ts AS TIMESTAMP) > s.first_signup
        GROUP BY s.user_id, s.first_signup
    )
    SELECT CAST((SELECT COUNT(*) FROM signups) AS BIGINT) AS n_signed_up,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(date_diff('second', first_signup, first_purchase)) AS BIGINT)
               AS fastest_conversion_sec
    FROM converted
    """,
)
def events_signup_to_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel: first signup → first later purchase per user,
    plus the fastest conversion. Join + min-aggregation shape (no window
    needed); the sequence constraint is the join's non-equi predicate."""
    e = load_table(spark, sf_dir, "events")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    converted = (
        signups.join(purchases, "user_id")
        .filter(F.col("p_ts") > F.col("first_signup"))
        .groupBy("user_id", "first_signup")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    n_signed = signups.count()
    return converted.agg(
        F.lit(n_signed).cast("bigint").alias("n_signed_up"),
        F.count(F.lit(1)).alias("n_converted"),
        F.min(
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_signup")
        )
        .cast("bigint")
        .alias("fastest_conversion_sec"),
    )


@register(
    "events_weekly_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               time_bucket(INTERVAL '7 days', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id,
               time_bucket(INTERVAL '7 days', CAST(ts AS TIMESTAMP)) AS active_week
        FROM events
    )
    SELECT f.cohort_week AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS BIGINT)
               AS weeks_since_cohort,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    ORDER BY cohort_week, weeks_since_cohort
    """,
)
def events_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted as active
    in each subsequent week — the canonical product-analytics triangle.
    Bucket-origin subtlety: Spark's window() aligns to the epoch (a
    Thursday) while DuckDB's time_bucket aligns day/week intervals to
    Monday 2000-01-03 — startTime='4 days' shifts Spark onto the same
    Monday grid."""
    e = load_table(spark, sf_dir, "events")
    week = lambda c: F.window(c, "7 days", startTime="4 days")["start"]  # noqa: E731
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts")).select(
        "user_id", week(F.col("first_ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", week(F.col("ts")).alias("active_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.col("active_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("bigint")
            .alias("weeks_since_cohort"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .transform(sort_result, "cohort_week", "weeks_since_cohort")
    )


@register(
    "events_seasonal_hour_anomaly",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
               SUM(value) AS v
        FROM events GROUP BY 1
    ),
    keyed AS (
        SELECT bucket, v,
               dayofweek(bucket) + 1 AS dow,
               hour(bucket) AS hod
        FROM hourly
    ),
    base AS (
        SELECT dow, hod,
               AVG(v) AS m, STDDEV_SAMP(v) AS s, COUNT(*) AS c
        FROM keyed GROUP BY dow, hod
    )
    SELECT k.bucket AS bucket,
           ROUND(k.v, 2) AS hourly_value,
           ROUND((k.v - b.m) / b.s, 4) AS z
    FROM keyed k JOIN base b ON k.dow = b.dow AND k.hod = b.hod
    WHERE b.c >= 3 AND b.s > 1e-9
      AND ABS(ROUND((k.v - b.m) / b.s, 4)) > 1.4
    ORDER BY bucket
    """,
)
def events_seasonal_hour_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: each hourly total is z-scored
    against the history of ITS OWN (day-of-week, hour-of-day) slot, so a
    quiet Sunday 3am is not "anomalous" merely for being quieter than Monday
    noon (threshold 1.4: with a ~4-sample seasonal history the sample-z is
    bounded at (n-1)/sqrt(n) ≈ 1.75, so the classic |z|>2 cut is unsatisfiable
    by construction; 1.4 flags the top decile. A year of history → n≈52 →
    restore the conventional 2–3 cut) — the standard seasonal-profile monitor for telemetry volumes.

    Scale shape: one shuffle to hourly buckets (massively reducing — 3.6 M
    raw rows/hour collapse to 1), then a (7×24)-row baseline aggregate that
    broadcasts back onto the buckets; no window over the full series, so the
    plan is insensitive to history length. Slots with <3 samples or ~zero
    variance are excluded (z undefined); the z filter compares the ROUNDED
    value on both sides so the cross-engine ulp in stddev can't flip a
    boundary row in or out."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.sum("value").alias("v")
    )
    keyed = hourly.select(
        "bucket", "v", F.dayofweek("bucket").alias("dow"), F.hour("bucket").alias("hod")
    )
    base = keyed.groupBy("dow", "hod").agg(
        F.avg("v").alias("m"),
        F.stddev_samp("v").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    z = F.round((F.col("v") - F.col("m")) / F.col("s"), 4)
    return (
        keyed.join(F.broadcast(base), ["dow", "hod"])
        .filter((F.col("c") >= 3) & (F.col("s") > 1e-9) & (F.abs(z) > 1.4))
        .select("bucket", F.round("v", 2).alias("hourly_value"), z.alias("z"))
        .transform(sort_result, "bucket")
    )


@register(
    "events_peak_concurrent_incidents",
    oracle="""
    WITH incidents AS (
        SELECT CAST(ts AS TIMESTAMP) AS s,
               CAST(ts AS TIMESTAMP) + INTERVAL '10 minutes' AS e
        FROM events WHERE event_type = 'error'
    ),
    deltas AS (
        SELECT CAST(s AS DATE) AS day, s AS t, 1 AS delta FROM incidents
        UNION ALL
        SELECT CAST(s AS DATE) AS day, e AS t, -1 AS delta FROM incidents
    ),
    swept AS (
        SELECT day, t,
               SUM(delta) OVER (
                   PARTITION BY day ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS concurrent
        FROM deltas
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_incidents
    FROM swept
    GROUP BY day
    ORDER BY day
    """,
)
def events_peak_concurrent_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: each error opens a 10-minute
    incident window; the peak number of simultaneously-open incidents per
    day is the classic capacity/alerting metric (max concurrent sessions,
    peak room occupancy — same query). The O(n log n) sweep replaces the
    quadratic self-join ("count intervals overlapping each instant"):
    explode every interval into a +1/−1 delta, running-sum in time order,
    take the max.

    Partitioned by day so the running sum never needs a global single
    partition (incidents opened in one day and closing in the next are
    counted in the opening day — the boundary convention, documented).
    Ties: deltas sort (t, delta) so a −1 at instant t lands before the +1
    of an interval opening at exactly t — back-to-back windows don't
    double-count."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    inc = e.select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 minutes")).alias("e"),
    )
    deltas = inc.select(
        F.to_date("s").alias("day"), F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        inc.select(
            F.to_date("s").alias("day"), F.col("e").alias("t"), F.lit(-1).alias("delta")
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = deltas.select("day", F.sum("delta").over(w).alias("concurrent"))
    return (
        swept.groupBy("day")
        .agg(
            F.max("concurrent").cast("bigint").alias("peak_concurrent"),
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_incidents"),
        )
        # DATE serializes differently across the two engines' pandas
        # bridges (object date vs datetime64) and breaks the value hash —
        # ISO string on both sides instead
        .select(F.col("day").cast("string").alias("day"), "peak_concurrent", "n_incidents")
        .transform(sort_result, "day")
    )


_EWMA_ALPHA = 0.3
_EWMA_SPAN = 20  # trailing rows folded per point


@register(
    "events_ewma_user_value",
    oracle=f"""
    WITH raw AS (
        SELECT user_id, event_id, value,
               list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_EWMA_SPAN - 1} PRECEDING AND CURRENT ROW
               ) AS vals0
        FROM events WHERE user_id < 40
    ),
    windows AS (
        /* Spark's collect_list SKIPS NULLs while DuckDB's list() keeps
           them — filter so both engines fold the same observed sequence,
           and guard the empty (all-NULL frame) case to NULL
           (NULL-world fuzz, r6) */
        SELECT user_id, event_id, value,
               list_filter(vals0, x -> x IS NOT NULL) AS vals
        FROM raw
    )
    SELECT user_id, event_id, ROUND(value, 2) AS value,
           {{ewma}} AS ewma
    FROM windows
    ORDER BY user_id, event_id
    """.replace(
        "{ewma}",
        spark_round_sql(
            f"CASE WHEN len(vals) > 0 THEN list_reduce(vals,"
            f" (acc, x) -> acc * {1 - _EWMA_ALPHA}"
            f" + x * {_EWMA_ALPHA}) END",
            6,
        ),
    ),
)
def events_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of event value per user — the
    classic smoothing recurrence ``s_n = (1-α)·s_{n-1} + α·x_n``, which no
    built-in window aggregate expresses (weights depend on distance from the
    current row). Computed as a sequential FOLD over a trailing-20 window
    array: ``collect_list`` over a rows frame, then ``F.aggregate`` seeded
    with the oldest element — all Catalyst/codegen, no UDF. DuckDB's
    ``list_reduce`` seeds identically (first element), and both engines fold
    left-to-right in IEEE double order, so the oracle hash-matches exactly.

    Scale shape: one shuffle on user_id (the window's partition key); the
    fold is per-row compute bounded by the 20-element frame — no iterative
    joins, no driver loop. Truncating the geometric tail at 20 terms bounds
    state; the dropped weight is (1-α)^20 ≈ 0.08% of mass."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_SPAN - 1), Window.currentRow)
    )
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    vals = e.select(
        "user_id", "event_id", "value", F.collect_list("value").over(w).alias("vals")
    )
    # F.get (0-indexed) returns NULL on an empty array where ANSI-mode
    # element_at raises: an all-NULL frame (collect_list skipped every
    # value) must yield ewma = NULL, not a runtime error (NULL-world
    # fuzz, r6)
    folded = F.aggregate(
        F.slice("vals", 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.get("vals", 0),
        lambda acc, x: acc * F.lit(1 - _EWMA_ALPHA) + x * F.lit(_EWMA_ALPHA),
    )
    return vals.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.round(folded, 6).alias("ewma"),
    ).transform(sort_result, "user_id", "event_id")


_MAD_K = 1.4826  # normal-consistency constant
_MAD_CUT = 3.0


@register(
    "events_mad_robust_outliers",
    oracle=f"""
    WITH med AS (
        SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, ROUND(d.value, 2) AS value,
           {spark_round_sql(f"(d.value - d.med) / ({_MAD_K} * m.mad)", 4)}
               AS robust_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0
      AND ABS(d.value - d.med) > {_MAD_CUT} * {_MAD_K} * m.mad
    ORDER BY d.event_type, d.event_id
    """,
)
def events_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    median/MAD twin of ``events_value_zscore_outliers``: mean/stddev z-scores
    move with the outliers they hunt (masking), MAD has a 50% breakdown
    point. Exact medians on both sides (Spark ``percentile``, DuckDB
    ``percentile_cont`` — both interpolate), flag |x−med| > 3·1.4826·MAD.

    Scale shape: one read, shuffled once on event_type; both exact
    percentiles are whole-partition windows over that partitioning (5
    groups — per-group sort state, the honest cost of exact medians; swap
    ``percentile_approx`` in when groups get hot, same plan otherwise), so
    the MAD's second pass over |x−med| needs no rescan or join back."""
    from pyspark.sql import Window

    by_type = Window.partitionBy("event_type")
    dev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            "value",
            F.expr("percentile(value, 0.5)").over(by_type).alias("med"),
        )
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        .withColumn("mad", F.expr("percentile(adev, 0.5)").over(by_type))
    )
    return (
        dev.filter(
            (F.col("mad") > 0)
            & (F.col("adev") > F.lit(_MAD_CUT * _MAD_K) * F.col("mad"))
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(
                (F.col("value") - F.col("med")) / (F.lit(_MAD_K) * F.col("mad")), 4
            ).alias("robust_z"),
        )
        .transform(sort_result, "event_type", "event_id")
    )


@register(
    "events_latency_percentile_rollup",
    oracle="""
    WITH ranked AS (
        SELECT event_type,
               CAST(date_part('hour', ts) AS INT) AS hour_of_day,
               value,
               row_number() OVER (
                   PARTITION BY event_type, date_part('hour', ts)
                   ORDER BY value NULLS LAST) AS rn,
               COUNT(value) OVER (
                   PARTITION BY event_type, date_part('hour', ts)) AS n
        FROM events
    )
    SELECT event_type, hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(MIN(CASE WHEN rn = (n + 1) // 2 THEN value END), 4) AS p50,
           ROUND(MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN value END), 4)
               AS p95,
           ROUND(MIN(CASE WHEN rn = (99 * n + 99) // 100 THEN value END), 4)
               AS p99
    FROM ranked
    GROUP BY event_type, hour_of_day
    ORDER BY event_type, hour_of_day
    """,
)
def events_latency_percentile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRE dashboard rollup: exact P50/P95/P99 of event value per
    (event_type × hour-of-day) — tail percentiles are THE latency metric,
    and hour-of-day grouping exposes diurnal load patterns.

    Percentiles are DISCRETE order statistics — the value at rank
    ceil(q·n), integer-position arithmetic — not interpolated: with
    lattice-valued data the two engines' interpolation arithmetic is the
    redraw-fuzz divergence class `events_winsorized_stats` was caught in
    (non-dyadic quantile fractions like 0.95/0.99 are exactly where the
    engines' position/lerp formulas can part by an ulp; the order
    statistic is an exact lattice value on both).

    Scale shape: one shuffle on the (type, hour) grouping key — 5×24 = 120
    groups, each holding a per-group rank window: the honest cost of EXACT
    tail percentiles. At 100 TB swap ``percentile_approx`` (mergeable
    KLL-style sketch, map-side combinable) — same plan minus the per-group
    sort; the exact query stays as the calibration twin."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day"), "value"
    )
    grp = Window.partitionBy("event_type", "hour_of_day")
    # NULLS LAST + non-null count: NULL values rank past nn, so the
    # ceil(q*nn) order statistic skips them like the percentile aggregates
    # this window replaced (ADVICE r5 — Spark/DuckDB default null order
    # differs).
    ranked = e.select(
        "event_type",
        "hour_of_day",
        "value",
        F.row_number()
        .over(grp.orderBy(F.asc_nulls_last("value")))
        .alias("rn"),
        F.count("value").over(grp).alias("nn"),
    )

    def at_rank(cond: str):
        return F.round(F.min(F.when(F.expr(cond), F.col("value"))), 4)

    return (
        ranked.groupBy("event_type", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            at_rank("rn = (nn + 1) div 2").alias("p50"),
            at_rank("rn = (19 * nn + 19) div 20").alias("p95"),
            at_rank("rn = (99 * nn + 99) div 100").alias("p99"),
        )
        .transform(sort_result, "event_type", "hour_of_day")
    )


@register(
    "events_time_weighted_avg_value",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, value,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_ts
        FROM events WHERE user_id < 60
    ),
    seg AS (
        SELECT user_id,
               value * (epoch_us(next_ts) - epoch_us(ts)) AS weighted,
               epoch_us(next_ts) - epoch_us(ts) AS dur
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           ROUND(SUM(weighted) / SUM(dur), 6) AS time_weighted_avg,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM seg GROUP BY user_id
    HAVING SUM(dur) > 0
    ORDER BY user_id
    """,
)
def events_time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TimescaleDB's ``time_weight('LOCF')``
    signature op): each observation holds until the next one, so the mean
    weights every value by how LONG it was current, not how OFTEN it was
    sampled — irregular telemetry averaged honestly. Last-observation
    segments are open-ended and excluded (LOCF integral over closed
    segments only).

    Scale shape: one shuffle on user_id; ``lead`` and the segment integral
    ride the same partitioning, and the final per-user aggregate reuses the
    key — Spark collapses window + groupBy into one exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    seq = e.select(
        "user_id", "ts", "value", F.lead("ts").over(w).alias("next_ts")
    ).filter(F.col("next_ts").isNotNull())
    seg = seq.select(
        "user_id",
        (F.col("value") * (F.unix_micros(F.col("next_ts").cast("timestamp"))
                           - F.unix_micros(F.col("ts").cast("timestamp")))).alias("weighted"),
        (F.unix_micros(F.col("next_ts").cast("timestamp"))
         - F.unix_micros(F.col("ts").cast("timestamp"))).alias("dur"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            # guard + filter mirror the oracle's HAVING SUM(dur) > 0: a
            # user whose every observed value is NULL keeps their row (the
            # integral is NULL, the duration is real), while an all-tied
            # zero-duration user drops on both engines instead of raising
            # ANSI divide-by-zero (null+ties-world fuzz, r6)
            F.round(
                F.when(
                    F.sum("dur") > 0, F.sum("weighted") / F.sum("dur")
                ),
                6,
            ).alias("time_weighted_avg"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dur").alias("_sum_dur"),
        )
        .filter(F.col("_sum_dur") > 0)
        .drop("_sum_dur")
        .transform(sort_result, "user_id")
    )


@register(
    "events_top_trigram_paths",
    oracle="""
    WITH seq AS (
        SELECT event_type AS a,
               LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b,
               LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c
        FROM events
    )
    SELECT a || '>' || b || '>' || c AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE c IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 25
    """,
)
def events_top_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step user paths — the sequence-mining extension of the Markov
    transition matrix (2-step): which click>view>purchase chains actually
    happen, ranked. One user_id-keyed window produces both lookaheads (two
    ``lead`` offsets share a WindowExec), then a map-side-combined count and
    a TakeOrderedAndProject top-25 — two shuffles total, no self-joins (the
    naive 3-way sequence join would shuffle the events table three times)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = load_table(spark, sf_dir, "events")
    seq = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    return (
        seq.select(F.concat_ws(">", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(25)
    )


@register(
    "events_incremental_rollup_merge",
    oracle="""
    WITH base AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS day, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28, 10))) AS DOUBLE) AS s,
               SUM(CAST(value AS DECIMAL(28, 6))) AS s6,
               CAST(SUM(CAST(value * value AS DECIMAL(38, 12))) AS DOUBLE)
                   AS ss,
               MAX(value) AS mx
        FROM events WHERE event_id % 10 <> 0
        GROUP BY 1, 2
    ),
    delta AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS day, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28, 10))) AS DOUBLE) AS s,
               SUM(CAST(value AS DECIMAL(28, 6))) AS s6,
               CAST(SUM(CAST(value * value AS DECIMAL(38, 12))) AS DOUBLE)
                   AS ss,
               MAX(value) AS mx
        FROM events WHERE event_id % 10 = 0
        GROUP BY 1, 2
    ),
    merged AS (
        SELECT COALESCE(b.day, d.day) AS day,
               COALESCE(b.event_type, d.event_type) AS event_type,
               COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
               COALESCE(b.s, 0) + COALESCE(d.s, 0) AS s,
               COALESCE(b.s6, 0) + COALESCE(d.s6, 0) AS s6,
               COALESCE(b.ss, 0) + COALESCE(d.ss, 0) AS ss,
               GREATEST(COALESCE(b.mx, -1e18), COALESCE(d.mx, -1e18)) AS mx
        FROM base b FULL OUTER JOIN delta d
          ON b.day = d.day AND b.event_type = d.event_type
    )
    SELECT day, event_type,
           CAST(n AS BIGINT) AS n,
           CAST((2 * CAST(s6 * 1000000 AS BIGINT) + n * 100)
                // (2 * n * 100) AS DOUBLE) / 10000.0 AS mean_value,
           ROUND(sqrt(GREATEST(ss / n - (s / n) * (s / n), 0)), 4)
               AS pop_stddev,
           ROUND(mx, 2) AS max_value
    FROM merged
    ORDER BY day, event_type
    """,
)
def events_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental summary-table maintenance: the daily rollup is kept as
    MERGEABLE partial aggregates (n, Σx, Σx², max); when a delta batch
    (event_id % 10 = 0 simulates the arriving 10%) lands, the new rollup is
    partial ⊕ partial — a |days×types|-row merge — never a re-scan of
    history. Mean/stddev/max are finalized from the merged partials and are
    IDENTICAL to a from-scratch rollup (the oracle builds both sides the
    same way; ``dq_histogram_totalprice`` applies the same law to
    histograms). At 100 TB this is the difference between touching one
    day's delta and touching a year of history on every refresh."""
    day = F.date_trunc("day", F.col("ts"))

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            day.alias("day"), F.col("event_type")
        ).agg(
            F.count("*").alias("n"),
            # Exact-decimal partial sums: the per-row doubles are identical
            # on every engine, so summing them in DECIMAL (associative,
            # order-independent) and casting the exact total back to DOUBLE
            # makes the merged rollup bit-identical regardless of partition
            # count or engine — a plain double SUM differs by ulps with
            # accumulation order and flips 4-dp rounding at boundary values.
            F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("s"),
            # Scale-6 exact sum kept as DECIMAL: the 4-dp mean is finalized
            # with pure integer half-up arithmetic (below) because the true
            # mean can land exactly on a 4-dp half-way point (e.g. 307.03/8
            # = 38.37875) where double rounding is engine-dependent.
            F.sum(F.col("value").cast("decimal(28,6)")).alias("s6"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,12)"))
            .cast("double")
            .alias("ss"),
            F.max("value").alias("mx"),
        )

    e = load_table(spark, sf_dir, "events")
    base = partials(e.filter(F.col("event_id") % 10 != 0))
    delta = partials(e.filter(F.col("event_id") % 10 == 0))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d,
        (F.col("b.day") == F.col("d.day"))
        & (F.col("b.event_type") == F.col("d.event_type")),
        "full_outer",
    ).select(
        F.coalesce("b.day", "d.day").alias("day"),
        F.coalesce("b.event_type", "d.event_type").alias("event_type"),
        (F.coalesce("b.n", F.lit(0)) + F.coalesce("d.n", F.lit(0))).alias("n"),
        (F.coalesce("b.s", F.lit(0.0)) + F.coalesce("d.s", F.lit(0.0))).alias("s"),
        (
            F.coalesce(F.col("b.s6"), F.lit(0).cast("decimal(28,6)"))
            + F.coalesce(F.col("d.s6"), F.lit(0).cast("decimal(28,6)"))
        ).alias("s6"),
        (F.coalesce("b.ss", F.lit(0.0)) + F.coalesce("d.ss", F.lit(0.0))).alias("ss"),
        F.greatest(
            F.coalesce("b.mx", F.lit(-1e18)), F.coalesce("d.mx", F.lit(-1e18))
        ).alias("mx"),
    )
    mean = F.col("s") / F.col("n")
    # Integer half-up mean at 4 dp: N = s6*1e6 (exact scale-6 sum as an
    # integer), d = 100*n, so N/d = mean*1e4 and (2N+d) div (2d) is
    # round-half-up(mean*1e4) — exact rational arithmetic, identical on any
    # engine and any partitioning (value >= 0, so trunc-div == floor-div).
    merged = merged.withColumn(
        "n10k", (F.col("s6").cast("decimal(20,6)") * F.lit(1000000)).cast("bigint")
    ).withColumn("d100", F.col("n").cast("bigint") * F.lit(100))
    return merged.select(
        "day",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (
            F.expr("(2 * n10k + d100) div (2 * d100)").cast("double")
            / F.lit(10000.0)
        ).alias("mean_value"),
        F.round(
            F.sqrt(F.greatest(F.col("ss") / F.col("n") - mean * mean, F.lit(0.0))),
            4,
        ).alias("pop_stddev"),
        F.round("mx", 2).alias("max_value"),
    ).transform(sort_result, "day", "event_type")


@register(
    "events_autocorrelation_hourly",
    oracle="""
    WITH bounds AS (
        SELECT time_bucket(INTERVAL '1 hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
               time_bucket(INTERVAL '1 hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
        FROM events
    ),
    grid AS (
        SELECT t.event_type, g.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (
            SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
            FROM bounds
        ) g
    ),
    counts AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT g.event_type, g.h,
               CAST(COALESCE(c.c, 0) AS DOUBLE) AS x
        FROM grid g LEFT JOIN counts c
          ON g.event_type = c.event_type AND g.h = c.h
    ),
    lagged AS (
        SELECT event_type, x,
               lag(x, 1) OVER w AS x1,
               lag(x, 2) OVER w AS x2,
               lag(x, 3) OVER w AS x3
        FROM series
        WINDOW w AS (PARTITION BY event_type ORDER BY h)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(corr(x, x1), 6) AS acf_1,
           ROUND(corr(x, x2), 6) AS acf_2,
           ROUND(corr(x, x3), 6) AS acf_3
    FROM lagged
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_autocorrelation_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of the hourly event-count series per type —
    the seasonality/burstiness screen run before picking a forecast model or
    an anomaly baseline (high acf_1 ⇒ bursty; acf_24 would test daily cycles).

    The series is gap-filled first (hours with zero events are real zeros,
    not missing rows): the hour grid comes from one ``sequence()`` over the
    global min/max — a 2-row broadcast, never a driver round-trip — crossed
    with the distinct types. ACF is then ``corr(x, lag(x, k))`` over the
    ordered series: one small window per type (720 buckets/month regardless
    of event volume — the window input is the AGGREGATED series, so at 100 TB
    the shuffle carries |types|×|hours| rows, not events)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    bounds = e.select(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 hour"))
            ).alias("h"),
        )
    )
    counts = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    series = grid.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("c", F.lit(0)).cast("double").alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = series.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
        F.lag("x", 3).over(w).alias("x3"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.round(F.corr("x", "x1"), 6).alias("acf_1"),
            F.round(F.corr("x", "x2"), 6).alias("acf_2"),
            F.round(F.corr("x", "x3"), 6).alias("acf_3"),
        )
        .transform(sort_result, "event_type")
    )


@register(
    "events_interval_coverage",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e
        FROM events WHERE event_type = 'click' AND user_id < 40
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), -1) THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island_id
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island_id,
               MAX(e) - MIN(s) AS dur_us,
               COUNT(*) AS n_events
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(SUM(dur_us) / 1e6, 6) AS covered_seconds
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals coverage: every click opens a 5-minute activity
    window; per user, how much wall-clock was covered by at least one open
    window (and in how many contiguous activity islands). The
    sibling of ``events_peak_concurrent_incidents`` — that one asks "how
    many at once", this one "how long in total", and both replace the
    quadratic overlap self-join with an O(n log n) order-based pass.

    Gaps-and-islands merge: an interval starts a new island iff its start
    exceeds the running max end of everything before it (running max, not
    ``lag(e)`` — an earlier long interval can swallow a later short one).
    Island durations then sum per user. ONE user_id shuffle serves both
    windows and the final rollup; microsecond integer arithmetic end-to-end
    so the oracle comparison is exact, no float drift."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "click") & (F.col("user_id") < 40)
    )
    # ts is TIMESTAMP_NTZ (UTC wall time, see io.load_table) — unix_micros
    # wants LTZ, so take micros-since-epoch as an NTZ-safe timestampdiff.
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    iv = e.select(
        "user_id", us.alias("s"), (us + F.lit(300_000_000)).alias("e")
    )
    order = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island_id"),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        (F.max("e") - F.min("s")).alias("dur_us"),
        F.count("*").alias("n_events"),
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_islands"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("dur_us") / F.lit(1e6), 6).alias("covered_seconds"),
        )
        .transform(sort_result, "user_id")
    )


@register(
    "events_rolling_median",
    oracle="""
    SELECT event_id,
           event_type,
           ROUND(value, 4) AS value,
           ROUND(median(value) OVER (
               PARTITION BY event_type
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
           ), 6) AS rolling_median
    FROM events WHERE user_id < 10
    ORDER BY event_type, CAST(ts AS TIMESTAMP), event_id
    """,
)
def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 exact rolling median of event value per type — the
    robust sibling of ``events_ewma_user_value`` (a single spike moves an
    EWMA but not a median; dashboards smooth latency/value series this
    way). Spark has no windowed ``median``, so the frame is collected as a
    bounded 20-element array and the median taken by sort + middle
    element(s), interpolating for even counts exactly as DuckDB's
    ``median`` window does. The frame bound (20 rows) caps per-row state,
    so the window cost is O(n·20 log 20) within each type partition — the
    same keyed shuffle every other per-type window here uses."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    # 0-indexed F.get (NULL on out-of-range, where ANSI element_at raises):
    # collect_list skips NULL values, so an all-NULL frame is EMPTY — the
    # median must be NULL like DuckDB's NULL-skipping median window, not a
    # runtime error (NULL-world fuzz, r6). Odd n → middle, even n → mean
    # of the two middles.
    lo = F.get(arr, ((n + 1) / 2).cast("int") - 1)
    hi = F.get(arr, (n / 2).cast("int"))
    return (
        e.select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round((lo + hi) / 2, 6).alias("rolling_median"),
            "ts",
        )
        .transform(sort_result, "event_type", "ts", "event_id")
        .drop("ts")
    )


@register(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               AVG(value) AS day_mean
        FROM events GROUP BY 1, 2
    ),
    centered AS (
        SELECT event_type, day, day_mean,
               day_mean - AVG(day_mean) OVER (PARTITION BY event_type)
                   AS dev
        FROM daily
    ),
    cusum AS (
        SELECT event_type, day,
               SUM(dev) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c
        FROM centered
    ),
    ranked AS (
        SELECT event_type, day, c,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY ABS(c) DESC, day ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days
        FROM cusum
    )
    SELECT event_type,
           CAST(day AS VARCHAR) AS changepoint_day,
           ROUND(c, 6) AS max_abs_cusum,
           CAST(n_days AS BIGINT) AS n_days
    FROM ranked WHERE rn = 1
    ORDER BY event_type
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: cumulative sum of the
    daily-mean deviations from the type's overall daily-mean level; the day
    where |CUSUM| peaks is the single most likely level-shift point (Page's
    CUSUM / binary-segmentation step 1 — the screen run before alerting on
    a metric drift).

    Scale shape: the event scan collapses to |types|×|days| rows in ONE
    grouped aggregate; the centering, running sum, and argmax are three
    windows over that tiny frame sharing one event_type partitioning.
    Earliest day wins |CUSUM| ties so the answer is deterministic."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.avg("value").alias("day_mean"))
    byt = Window.partitionBy("event_type")
    centered = daily.select(
        "event_type",
        "day",
        (F.col("day_mean") - F.avg("day_mean").over(byt)).alias("dev"),
    )
    cusum = centered.select(
        "event_type",
        "day",
        F.sum("dev")
        .over(byt.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
        .alias("c"),
    )
    ranked = cusum.select(
        "event_type",
        "day",
        "c",
        F.row_number()
        .over(byt.orderBy(F.abs("c").desc(), F.col("day").asc()))
        .alias("rn"),
        F.count("*").over(byt).alias("n_days"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("changepoint_day"),
            F.round("c", 6).alias("max_abs_cusum"),
            F.col("n_days").cast("bigint").alias("n_days"),
        )
        .transform(sort_result, "event_type")
    )


@register(
    "events_survival_km",
    oracle="""
    WITH obs_end AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) AS t_end FROM events
    ),
    signups AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    purchases AS (
        SELECT s.user_id,
               MIN(CAST(e.ts AS TIMESTAMP)) AS t1
        FROM signups s JOIN events e
          ON e.user_id = s.user_id AND e.event_type = 'purchase'
         AND CAST(e.ts AS TIMESTAMP) > s.t0
        GROUP BY s.user_id
    ),
    durations AS (
        SELECT s.user_id,
               CASE WHEN p.t1 IS NOT NULL
                    THEN date_diff('microsecond', s.t0, p.t1) // 3600000000
                    ELSE date_diff('microsecond', s.t0,
                                   (SELECT t_end FROM obs_end)) // 3600000000
               END AS dur_h,
               CASE WHEN p.t1 IS NOT NULL THEN 1 ELSE 0 END AS is_event
        FROM signups s LEFT JOIN purchases p ON p.user_id = s.user_id
    ),
    grouped AS (
        SELECT dur_h,
               CAST(SUM(is_event) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS total_here
        FROM durations GROUP BY dur_h
    ),
    risk AS (
        SELECT dur_h, d,
               (SELECT COUNT(*) FROM durations)
               - COALESCE(SUM(total_here) OVER (
                     ORDER BY dur_h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS n_risk
        FROM grouped
    ),
    km AS (
        SELECT dur_h, d, n_risk,
               EXP(SUM(LN(GREATEST(1.0 - d * 1.0 / n_risk, 1e-300))) OVER (
                   ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )) AS s
        FROM risk
    )
    SELECT CAST(dur_h AS BIGINT) AS t_hours,
           CAST(n_risk AS BIGINT) AS n_risk,
           d AS d_events,
           ROUND(s, 6) AS survival
    FROM km WHERE d > 0
    ORDER BY t_hours
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for signup → first-purchase conversion
    with RIGHT CENSORING: users who never purchased contribute their
    observed time-at-risk (until corpus end) to the risk sets instead of
    being dropped — the estimator funnels/medians get wrong by ignoring
    open-ended users (a plain conversion rate understates late converters).
    S(t) = Π over event times ≤ t of (1 − dᵢ/nᵢ); the cumulative product
    runs as exp(Σ ln(·)) so it's a window SUM.

    Scale shape: the per-user duration table is one user-keyed pass over
    the signup/purchase rows (t0 is a MIN over the user window, t1 the
    keyed MIN of the purchases after it) plus the broadcast corpus end;
    everything after collapses to one row per distinct duration hour
    (bounded by the observation span, not by users), so the unpartitioned
    KM windows run over that tiny frame — same aggregated-series argument
    as the ACF query."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    obs_end = e.agg(F.max("ts").alias("t_end"))
    per_user = (
        e.filter(F.col("event_type").isin("signup", "purchase"))
        .withColumn(
            "t0",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(
                Window.partitionBy("user_id")
            ),
        )
        .filter(F.col("t0").isNotNull())
        .groupBy("user_id", "t0")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("t1")
        )
    )
    durations = (
        per_user.crossJoin(F.broadcast(obs_end))
        .select(
            # full elapsed hours via micros floor-div: Spark's
            # timestampdiff(HOUR) floors while DuckDB's date_diff('hour')
            # counts boundary crossings — micros agree exactly
            F.when(
                F.col("t1").isNotNull(),
                F.expr(
                    "timestampdiff(MICROSECOND, t0, t1) div 3600000000"
                ),
            )
            .otherwise(
                F.expr(
                    "timestampdiff(MICROSECOND, t0, t_end) div 3600000000"
                )
            )
            .alias("dur_h"),
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("is_event"),
        )
    )
    grouped = durations.groupBy("dur_h").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("total_here"),
    )
    w = Window.orderBy("dur_h")
    risk = (
        grouped.select(
            "dur_h",
            "d",
            (
                F.sum("total_here").over(Window.partitionBy())
                - F.coalesce(
                    F.sum("total_here").over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
            ).alias("n_risk"),
        )
    )
    km = risk.select(
        "dur_h",
        "d",
        "n_risk",
        F.exp(
            F.sum(
                F.log(
                    F.greatest(
                        1.0 - F.col("d") / F.col("n_risk"), F.lit(1e-300)
                    )
                )
            ).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("s"),
    )
    return (
        km.filter(F.col("d") > 0)
        .select(
            F.col("dur_h").cast("bigint").alias("t_hours"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").alias("d_events"),
            F.round("s", 6).alias("survival"),
        )
        .orderBy("t_hours")
    )


@register(
    "events_cross_correlation",
    oracle=f"""
    WITH bounds AS (
        SELECT time_bucket(INTERVAL '1 hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
               time_bucket(INTERVAL '1 hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
        FROM bounds
    ),
    counts AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        FROM events GROUP BY 1
    ),
    series AS (
        SELECT g.h,
               CAST(COALESCE(c.c, 0) AS DOUBLE) AS clicks,
               CAST(COALESCE(c.p, 0) AS DOUBLE) AS purchases
        FROM grid g LEFT JOIN counts c ON c.h = g.h
    ),
    lagged AS (
        SELECT l.lag_h,
               s.clicks,
               lead(s.purchases, CAST(l.lag_h AS INT)) OVER (
                   PARTITION BY l.lag_h ORDER BY s.h
               ) AS purchases_shifted
        FROM series s
        CROSS JOIN (SELECT unnest(range(0, 4)) AS lag_h) l
    )
    ,
    m AS (
        /* exact integer comoments over complete pairs: Pearson r from one
           identical IEEE chain on both engines, NULL (not an ANSI raise)
           on a zero-variance series — a starved corpus makes the click
           series constant-zero (sparse+null-world fuzz, r6). Counts are
           integers: the HUGEINT sums are exact. */
        SELECT lag_h,
               CAST(COUNT(purchases_shifted) AS HUGEINT) AS n,
               SUM(CASE WHEN purchases_shifted IS NOT NULL
                        THEN CAST(clicks AS HUGEINT) END) AS sx,
               SUM(CAST(purchases_shifted AS HUGEINT)) AS sy,
               SUM(CAST(clicks * purchases_shifted AS HUGEINT)) AS sxy,
               SUM(CASE WHEN purchases_shifted IS NOT NULL
                        THEN CAST(clicks * clicks AS HUGEINT) END) AS sxx,
               SUM(CAST(purchases_shifted * purchases_shifted AS HUGEINT))
                   AS syy
        FROM lagged
        GROUP BY lag_h
    )
    SELECT CAST(lag_h AS BIGINT) AS lag_hours,
           CAST(n AS BIGINT) AS n_pairs,
           {spark_round_sql(
               '''CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                       THEN CAST(n * sxy - sx * sy AS DOUBLE)
                            / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                               * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                  END''', 6
           )} AS xcorr
    FROM m
    ORDER BY lag_hours
    """,
)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged CROSS-correlation between the hourly click and purchase
    series: corr(clicks_t, purchases_{t+k}) for k = 0..3 — the lead-lag
    discovery that says whether click volume predicts purchases hours
    ahead (the cross-series sibling of `events_autocorrelation_hourly`).

    The lag axis is a 4-row broadcast crossed with the gap-filled series,
    so one window pass computes every shift; the windows run over the
    aggregated |lags|×|hours| frame, never raw events."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    bounds = e.select(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 hour"))).alias("h")
    )
    counts = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "c"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("p"),
    )
    series = grid.join(counts, "h", "left").select(
        "h",
        F.coalesce("c", F.lit(0)).cast("double").alias("clicks"),
        F.coalesce("p", F.lit(0)).cast("double").alias("purchases"),
    )
    lags = spark.createDataFrame([(k,) for k in range(4)], "lag_h int")
    lagged = series.crossJoin(F.broadcast(lags)).select(
        "lag_h", "clicks", "h", "purchases"
    )
    w = Window.partitionBy("lag_h").orderBy("h")
    # Spark's lead() needs a literal offset — branch per lag value and
    # coalesce (the lag table is tiny and literal-indexed)
    shifted = lagged.select(
        "lag_h",
        "clicks",
        F.coalesce(
            *[
                F.when(
                    F.col("lag_h") == k, F.lead("purchases", k).over(w)
                )
                for k in range(4)
            ]
        ).alias("purchases_shifted"),
    )
    # exact integer comoments over complete pairs (counts are integers):
    # Pearson r from one identical IEEE chain on both engines, NULL on a
    # zero-variance series instead of F.corr's ANSI DIVIDE_BY_ZERO raise —
    # a starved corpus makes the click series constant-zero
    # (sparse+null-world fuzz, r6; same pattern as degree assortativity)
    ps, ck = F.col("purchases_shifted"), F.col("clicks")
    dec = "decimal(38,0)"
    pair = ps.isNotNull()
    m = shifted.groupBy(F.col("lag_h").cast("bigint").alias("lag_hours")).agg(
        F.count(ps).cast(dec).alias("n"),
        F.sum(F.when(pair, ck).cast(dec)).alias("sx"),
        F.sum(ps.cast(dec)).alias("sy"),
        F.sum((ck * ps).cast(dec)).alias("sxy"),
        F.sum(F.when(pair, ck * ck).cast(dec)).alias("sxx"),
        F.sum((ps * ps).cast(dec)).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        cov.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return (
        m.select(
            "lag_hours",
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round(r, 6).alias("xcorr"),
        )
        .orderBy("lag_hours")
    )


@register(
    "events_gap_interpolation",
    oracle=f"""
    WITH bounds AS (
        SELECT time_bucket(INTERVAL '1 hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
               time_bucket(INTERVAL '1 hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
        FROM events WHERE event_type = 'purchase'
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
        FROM bounds
    ),
    obs AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               {exact_round_avg_sql("value", 6)} AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    series AS (
        SELECT g.h, o.v,
               CAST(row_number() OVER (ORDER BY g.h) AS DOUBLE) AS pos
        FROM grid g LEFT JOIN obs o ON o.h = g.h
    ),
    bracketed AS (
        SELECT h, v, pos,
               last_value(v IGNORE NULLS) OVER (
                   ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                   OVER (ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pp,
               first_value(v IGNORE NULLS) OVER (
                   ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                   OVER (ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS np
        FROM series
    )
    SELECT h AS bucket_start,
           (v IS NOT NULL) AS observed,
           {spark_round_sql('''CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv) * (pos - pp) / (np - pp)
           END''', 6)} AS value
    FROM bracketed
    ORDER BY bucket_start
    """,
)
def events_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of series gaps: silent hours in the hourly
    purchase-value series are filled by interpolating between the nearest
    observed values on each side (edges forward/back-fill) — the
    densification step before any fixed-step model (`events_gap_filled_
    minutes` fills with zeros, right for counts; interpolation is right
    for LEVELS like price or temperature).

    Shape: one grouped aggregate to hourly means, then four
    ignorenulls-window lookups (prev/next value and position) over the
    |hours|-row frame in a single ordering — the aggregated-series
    discipline again: window cost scales with the grid, not events."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    bounds = e.select(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 hour"))).alias("h")
    )
    # the series LEVEL is the exact 6-dp hourly mean (functions/exact.py):
    # a mean of cent-lattice values can sit exactly on a 6-dp half-way
    # point (an sf0.1 redraw world caught one), and feeding both engines
    # the identical rounded level also makes every interpolated value an
    # identical IEEE expression over identical inputs
    obs = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        exact_round_avg("value", 6).alias("v")
    )
    series = grid.join(obs, "h", "left").select(
        "h",
        "v",
        F.row_number().over(Window.orderBy("h")).cast("double").alias("pos"),
    )
    # next-observation lookup runs the same O(n) running frame over
    # DESCENDING pos — the (current → unboundedFollowing) frame rescans the
    # tail per row (O(grid²); quadratic even on the calendar-bounded grid)
    back = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    fwd = Window.orderBy(F.desc("pos")).rowsBetween(Window.unboundedPreceding, 0)
    vpos = F.when(F.col("v").isNotNull(), F.col("pos"))
    br = series.select(
        "h",
        "v",
        "pos",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(vpos, ignorenulls=True).over(back).alias("pp"),
        F.last("v", ignorenulls=True).over(fwd).alias("nv"),
        F.last(vpos, ignorenulls=True).over(fwd).alias("np"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("pos") - F.col("pp"))
            / (F.col("np") - F.col("pp"))
        )
    )
    return br.select(
        F.col("h").alias("bucket_start"),
        F.col("v").isNotNull().alias("observed"),
        F.round(interp, 6).alias("value"),
    ).orderBy("bucket_start")


@register(
    "events_dow_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY dow, hour
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity matrix in long form — the
    calendar-heatmap feed behind every ops dashboard, and the descriptive
    view whose residuals `events_seasonal_hour_anomaly` alerts on. One
    mergeable aggregate to a 7×24-bounded frame. (Engine note: DuckDB
    `dayofweek` is 0=Sunday while Spark's is 1=Sunday — the query maps
    Spark onto DuckDB's numbering so the long forms join across engines.)"""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .transform(sort_result, "dow", "hour")
    )


_HOLT_A = 0.5  # level smoothing
_HOLT_B = 0.3  # trend smoothing


@register(
    "events_holt_linear_trend",
    oracle=f"""
    WITH RECURSIVE daily AS (
        /* drop all-NULL days: a day with no observed values is a MISSING
           observation, not a NULL one — otherwise the Spark fold reseeds
           after the NULL corrupts its state while this recursion stays
           NULL forever (null-world fuzz, r6) */
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               AVG(value) AS x
        FROM events GROUP BY 1, 2
        HAVING AVG(value) IS NOT NULL
    ),
    series AS (
        SELECT event_type, x,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY day) AS i,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    /* DuckDB 1.0's list_reduce corrupts struct accumulators whose fields
       read each other across steps (verified: a field copying acc.s ends
       up with the FINAL s) — so the coupled (l, b) recurrence runs as a
       recursive CTE instead, one row per (type, step). */
    holt AS (
        SELECT s2.event_type, 2 AS i, s2.x AS l, s2.x - s1.x AS b
        FROM series s2 JOIN series s1
          ON s1.event_type = s2.event_type AND s2.i = 2 AND s1.i = 1
        UNION ALL
        SELECT h.event_type, h.i + 1,
               {_HOLT_A} * s.x + {1 - _HOLT_A} * h.l
                   + {1 - _HOLT_A} * h.b,
               {_HOLT_B * _HOLT_A} * s.x - {_HOLT_B * _HOLT_A} * h.l
                   + {1 - _HOLT_B * _HOLT_A} * h.b
        FROM holt h JOIN series s
          ON s.event_type = h.event_type AND s.i = h.i + 1
    ),
    final AS (
        SELECT h.event_type, h.i, h.l, h.b
        FROM holt h
        JOIN (SELECT event_type, MAX(i) AS mi FROM holt GROUP BY event_type) m
          ON m.event_type = h.event_type AND m.mi = h.i
    )
    SELECT f.event_type,
           CAST(f.i AS BIGINT) AS n_days,
           ROUND(f.l, 6) AS level,
           ROUND(f.b, 6) AS trend,
           ROUND(f.l + f.b, 6) AS forecast_next_day
    FROM final f
    ORDER BY f.event_type
    """,
)
def events_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) over each
    type's daily-mean series, with the one-step-ahead forecast l+b — the
    EWMA recurrence upgraded to VECTOR state:
    lₜ = αxₜ + (1−α)(lₜ₋₁+bₜ₋₁), bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, seeded
    l₂ = x₂, b₂ = x₂ − x₁. Both sides evaluate the recurrence in the SAME
    expanded linear form (l' = αx + (1−α)l + (1−α)b;
    b' = βαx − βαl + (1−βα)b) so the left-to-right double arithmetic is
    bit-identical. Spark runs it as one sequential `F.aggregate` fold with
    a struct accumulator over the collected series; the oracle replays it
    as a recursive CTE (DuckDB 1.0's list_reduce mis-evaluates struct
    accumulators with cross-referencing fields — found by this query's
    differential test, which is exactly what the oracle harness is for).

    Scale: the fold input is the AGGREGATED daily series (|days| elements
    per type, bounded by the calendar span, not event volume) — the same
    argument as the ACF/CUSUM queries."""
    e = load_table(spark, sf_dir, "events")
    # drop all-NULL days: a day with no observed values is a MISSING
    # observation — kept, its NULL corrupts the fold state and the
    # when(l IS NULL) seed branch silently RESEEDS mid-series, diverging
    # from the oracle's never-reseeding recursion (null-world fuzz, r6)
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("x"))
        .filter(F.col("x").isNotNull())
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: F.struct(
                s["x"].alias("x"),
                F.lit(None).cast("double").alias("l"),
                F.lit(None).cast("double").alias("b"),
            ),
        ).alias("xs")
    )
    a, bb = _HOLT_A, _HOLT_B
    # Holt needs two points to seed (l₂=x₂, b₂=x₂−x₁): a 1-day series has
    # no defined state. The oracle's recursive CTE drops such types
    # structurally (it seeds at i=2); filter explicitly here so both
    # engines agree on the row set (sparse-world fuzz: 10-event corpus
    # left 2 of 5 types with a single day).
    series = series.filter(F.size("xs") >= 2)
    folded = series.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_days"),
        F.aggregate(
            F.slice("xs", 2, F.size("xs") - 1),
            F.element_at("xs", 1),
            lambda acc, e: F.when(
                acc["l"].isNull(),
                F.struct(
                    e["x"].alias("x"),
                    e["x"].alias("l"),
                    (e["x"] - acc["x"]).alias("b"),
                ),
            ).otherwise(
                F.struct(
                    e["x"].alias("x"),
                    (
                        a * e["x"] + (1 - a) * acc["l"] + (1 - a) * acc["b"]
                    ).alias("l"),
                    (
                        (bb * a) * e["x"]
                        - (bb * a) * acc["l"]
                        + (1 - bb * a) * acc["b"]
                    ).alias("b"),
                )
            ),
        ).alias("s"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("s.l"), 6).alias("level"),
        F.round(F.col("s.b"), 6).alias("trend"),
        F.round(F.col("s.l") + F.col("s.b"), 6).alias("forecast_next_day"),
    ).transform(sort_result, "event_type")


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------


@register(
    "events_seasonal_naive_backtest",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               COUNT(*) * 1.0 AS n
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, h, n,
               lag(n, 24) OVER (PARTITION BY event_type ORDER BY h) AS fc
        FROM hourly
    ),
    scope AS (
        SELECT * FROM lagged
        WHERE fc IS NOT NULL
          AND h >= (SELECT MAX(h) FROM hourly) - INTERVAL '7 days'
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(AVG(ABS(n - fc) / n), 4) AS mape,
           ROUND(AVG(2.0 * ABS(n - fc) / (n + fc)), 4) AS smape,
           ROUND(SQRT(AVG((n - fc) * (n - fc))), 4) AS rmse
    FROM scope GROUP BY event_type ORDER BY event_type
    """,
)
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy backtest of the SEASONAL-NAIVE baseline (forecast =
    the value 24 observed hours earlier) over the final week: MAPE, sMAPE,
    RMSE per event type. Every forecasting pipeline needs this query twice —
    once to score the baseline every candidate model must beat, once as the
    rolling evaluation harness for the real model's predictions (swap the
    `fc` column; nothing else changes). Lag is over OBSERVED hours (empty
    hours carry no row — the gap-fill variant is `events_gap_filled_minutes`'
    spine pattern); MAPE divides by observed n >= 1 by construction.
    Complements `events_holt_linear_trend` (model fit) with the missing
    half: honest out-of-sample error measurement.

    Plan: one keyed rollup (hour x type, mergeable counts), one bounded
    lag window per type over ~720 hourly rows, a broadcast scalar max —
    all post-rollup frames are |hours x types|, independent of event
    volume."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    lagged = hourly.withColumn(
        "fc",
        F.lag("n", 24).over(Window.partitionBy("event_type").orderBy("h")),
    )
    max_h = hourly.agg(F.max("h").alias("max_h"))
    scope = (
        lagged.crossJoin(F.broadcast(max_h))
        .filter(
            F.col("fc").isNotNull()
            & (F.col("h") >= F.col("max_h") - F.expr("INTERVAL 7 DAYS"))
        )
    )
    err = F.col("n") - F.col("fc")
    return (
        scope.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.round(F.avg(F.abs(err) / F.col("n")), 4).alias("mape"),
            F.round(
                F.avg(F.lit(2.0) * F.abs(err) / (F.col("n") + F.col("fc"))), 4
            ).alias("smape"),
            F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
        )
        .transform(sort_result, "event_type")
    )


# ---------------------------------------------------------------------------
# DFT periodogram over the hourly event-rate series
# ---------------------------------------------------------------------------

_DFT_MIN_PERIOD = 2
_DFT_MAX_PERIOD = 48
_DFT_TOPK = 5


@register(
    "events_periodogram_dft",
    oracle=f"""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               COUNT(*) * 1.0 AS n
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT row_number() OVER (ORDER BY h) - 1 AS t, n,
               AVG(n) OVER () AS mean_n, COUNT(*) OVER () AS nn
        FROM hourly
    ),
    freqs AS (
        SELECT unnest(range({_DFT_MIN_PERIOD}, {_DFT_MAX_PERIOD + 1}))
            AS period
    ),
    dft AS (
        SELECT f.period,
               SUM((i.n - i.mean_n) * COS(2 * PI() * i.t / f.period)) AS re,
               SUM((i.n - i.mean_n) * SIN(2 * PI() * i.t / f.period)) AS im,
               MAX(i.nn) AS nn
        FROM idx i CROSS JOIN freqs f
        GROUP BY f.period
    )
    SELECT CAST(period AS BIGINT) AS period_hours,
           ROUND((re * re + im * im) / nn, 4) AS power
    FROM dft
    ORDER BY power DESC, period_hours LIMIT {_DFT_TOPK}
    """,
)
def events_periodogram_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram by direct DFT probe: project the mean-centered hourly
    event-rate series onto cos/sin at candidate periods 2..48 h and rank
    by spectral power — the frequency-domain seasonality detector next to
    the time-domain `events_autocorrelation_hourly` (ACF tells you THAT
    the series self-correlates; the periodogram ranks WHICH cycle lengths
    carry energy, and feeds the period choice that
    `events_seasonal_naive_backtest` then validates). A flat noise
    spectrum here is itself the finding for synthetic arrivals.

    Plan: one hourly rollup (mergeable counts), one rank window over the
    ~720-point series, then a 47-row broadcast frequency grid
    cross-joined in — the projection is one keyed aggregate producing
    |periods| rows. No FFT needed at this grid size; at a million-point
    series you'd swap in mapInPandas + numpy.fft per series key, keeping
    this exact output contract."""
    from pyspark.sql import Window
    import math

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    wall = Window.partitionBy()
    idx = hourly.select(
        (F.row_number().over(Window.orderBy("h")) - 1).alias("t"),
        "n",
        F.avg("n").over(wall).alias("mean_n"),
        F.count(F.lit(1)).over(wall).alias("nn"),
    )
    freqs = spark.range(_DFT_MIN_PERIOD, _DFT_MAX_PERIOD + 1).select(
        F.col("id").alias("period")
    )
    ang = 2 * math.pi * F.col("t") / F.col("period")
    dft = (
        idx.crossJoin(F.broadcast(freqs))
        .groupBy("period")
        .agg(
            F.sum((F.col("n") - F.col("mean_n")) * F.cos(ang)).alias("re"),
            F.sum((F.col("n") - F.col("mean_n")) * F.sin(ang)).alias("im"),
            F.max("nn").alias("nn"),
        )
    )
    return (
        dft.select(
            F.col("period").cast("bigint").alias("period_hours"),
            F.round(
                (F.col("re") * F.col("re") + F.col("im") * F.col("im"))
                / F.col("nn"),
                4,
            ).alias("power"),
        )
        .orderBy(F.desc("power"), "period_hours")
        .limit(_DFT_TOPK)
    )


# ---------------------------------------------------------------------------
# OHLC bars (open/high/low/close rollup)
# ---------------------------------------------------------------------------


@register(
    "events_ohlc_bars",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS bar_start,
           ROUND(first(value ORDER BY ts, event_id)
                 FILTER (WHERE value IS NOT NULL), 2) AS open,
           ROUND(MAX(value), 2) AS high,
           ROUND(MIN(value), 2) AS low,
           ROUND(last(value ORDER BY ts, event_id)
                 FILTER (WHERE value IS NOT NULL), 2) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS volume
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY 1, 2 ORDER BY event_type, bar_start
    """,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup — the finance-native downsampling shape
    (first/last by event time + min/max + volume per bar) over 6-hour
    buckets. The interesting operators are the ORDERED-ARGUMENT aggregates
    min_by/max_by: open and close are values AT the argmin/argmax
    timestamp, which a naive first()/last() would get
    nondeterministically under shuffle — min_by is the order-free,
    merge-safe way to express "first in event time" (exactly how a
    streaming sink computes bars with late data, since min_by partials
    merge associatively). Epoch-aligned buckets match `time_bucket`, the
    same alignment contract as the tumbling-window twins.

    Plan: one scan with the type filter pushed to parquet, one keyed
    aggregate; every statistic is a mergeable pair (value, key) — no
    window, no sort, no second pass."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    return (
        e.groupBy(
            "event_type",
            F.window("ts", "6 hours").start.alias("bar_start"),
        )
        .agg(
            # ordering key is the UNIQUE (ts, event_id) struct, masked on
            # NULL values: (a) Spark's min_by/max_by return the value AT
            # the arg-extreme even when it is NULL while DuckDB skips NULL
            # values — masking makes both pick the extreme among OBSERVED
            # values (NULL-world fuzz, r6); (b) on a bare ts key, tied
            # timestamps — the norm in any stream logged at coarse
            # granularity — let each engine pick a DIFFERENT arbitrary row
            # (ties-world fuzz, r6); event_id makes the winner a scalar
            # function of the data. Oracle twin: ordered-aggregate
            # first/last(value ORDER BY ts, event_id).
            F.round(
                F.min_by(
                    "value",
                    F.when(
                        F.col("value").isNotNull(), F.struct("ts", "event_id")
                    ),
                ),
                2,
            ).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(
                F.max_by(
                    "value",
                    F.when(
                        F.col("value").isNotNull(), F.struct("ts", "event_id")
                    ),
                ),
                2,
            ).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
        .transform(sort_result, "event_type", "bar_start")
    )


# ---------------------------------------------------------------------------
# Extreme-value (Gumbel) peak-load analysis
# ---------------------------------------------------------------------------

_EULER_GAMMA = 0.5772156649015329


@register(
    "events_gumbel_peak_analysis",
    oracle=f"""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               COUNT(*) * 1.0 AS n
        FROM events GROUP BY 1
    ),
    daily_max AS (
        SELECT date_trunc('day', h) AS d, MAX(n) AS mx FROM hourly GROUP BY 1
    ),
    mom AS (
        SELECT AVG(mx) AS mu_hat, stddev_samp(mx) AS sd, COUNT(*) AS n_days
        FROM daily_max
    ),
    fit AS (
        SELECT n_days, mu_hat, sd,
               sd * sqrt(6.0) / pi() AS beta,
               mu_hat - {_EULER_GAMMA} * (sd * sqrt(6.0) / pi()) AS mu
        FROM mom
    )
    SELECT CAST(n_days AS BIGINT) AS n_days,
           ROUND(mu_hat, 4) AS mean_daily_peak,
           ROUND(mu, 4) AS gumbel_mu,
           ROUND(beta, 4) AS gumbel_beta,
           ROUND(mu - beta * ln(-ln(1.0 - 1.0/30)), 4) AS ret_level_30d,
           ROUND(mu - beta * ln(-ln(1.0 - 1.0/365)), 4) AS ret_level_365d,
           ROUND(1.0 - exp(-exp(
               -((SELECT MAX(mx) FROM daily_max) - mu) / beta)), 6)
               AS p_exceed_observed_max
    FROM fit
    """,
)
def events_gumbel_peak_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis of peak load: fit a Gumbel distribution to
    the DAILY MAXIMA of the hourly event rate (block-maxima method —
    Fisher-Tippett says maxima of light-tailed hourlies converge to
    Gumbel) by method of moments (beta = sd*sqrt(6)/pi, mu = mean −
    gamma*beta), then answer the capacity question averages cannot: the
    30-day and 365-day RETURN LEVELS (the peak you expect to see once per
    N days — what you provision for) and the exceedance probability of
    the worst peak observed so far. The tail-risk complement of
    `events_peak_concurrent_incidents` (observed peaks) and
    `events_latency_percentile_rollup` (bulk quantiles).

    Plan: two nested keyed rollups (hour, then day — both mergeable),
    then closed-form arithmetic on a 1-row moment frame; the scan is the
    entire cost at any scale."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    daily_max = hourly.groupBy(F.date_trunc("day", "h").alias("d")).agg(
        F.max("n").alias("mx")
    )
    mom = daily_max.agg(
        F.avg("mx").alias("mu_hat"),
        F.stddev_samp("mx").alias("sd"),
        F.count(F.lit(1)).alias("n_days"),
        F.max("mx").alias("obs_max"),
    )
    import math

    beta = F.col("sd") * math.sqrt(6.0) / math.pi
    mu = F.col("mu_hat") - _EULER_GAMMA * beta

    def ret_level(days: int) -> F.Column:
        return mu - beta * F.log(-F.log(F.lit(1.0) - 1.0 / days))

    return mom.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round("mu_hat", 4).alias("mean_daily_peak"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(ret_level(30), 4).alias("ret_level_30d"),
        F.round(ret_level(365), 4).alias("ret_level_365d"),
        # beta CAN be exactly 0 (every daily maximum equal — sparse-world
        # fuzz: 5 events land one per day): DuckDB division by zero yields
        # NULL, Spark ANSI raises — guard to the shared NULL contract (a
        # zero-spread fit has no exceedance tail)
        F.round(
            F.when(
                beta != 0,
                F.lit(1.0) - F.exp(-F.exp(-(F.col("obs_max") - mu) / beta)),
            ),
            6,
        ).alias("p_exceed_observed_max"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (Poisson-process test)
# ---------------------------------------------------------------------------


@register(
    "events_interarrival_burstiness",
    oracle="""
    WITH arr AS (
        SELECT event_type,
               date_diff('microsecond', lag(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id), ts)
                   AS gap_us
        FROM events
    ),
    m AS (
        /* exact integer moments: CV and B are derived from (n, sum,
           sum-of-squares) through ONE identical correctly-rounded IEEE
           chain on both engines — stddev_samp/AVG accumulate doubles in
           engine- and partition-dependent order (sf0.1 redraw seed 2317:
           B = -2.98e-05 rounded to -0.0 on DuckDB, +0.0 on Spark) */
        SELECT event_type,
               CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
               SUM(CAST(gap_us AS HUGEINT)) AS s1,
               SUM(CAST(gap_us AS HUGEINT) * gap_us) AS s2
        FROM arr WHERE gap_us IS NOT NULL
        GROUP BY event_type
    ),
    stats AS (
        SELECT event_type, n_gaps, s1,
               CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu_us,
               sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)
                    / CAST(CAST(n_gaps AS HUGEINT) * (n_gaps - 1)
                           AS DOUBLE)) AS sd_us
        FROM m
    )
    SELECT event_type, n_gaps,
           {mean_gap} AS mean_gap_s,
           CASE WHEN n_gaps > 1 THEN {cv} END AS cv,
           CASE WHEN n_gaps > 1 THEN {b} END AS burstiness_b
    FROM stats ORDER BY event_type
    """.replace(
        "{mean_gap}", exact_round_ratio_sql("s1", "n_gaps * 1000000", 4)
    ).replace(
        "{cv}", spark_round_sql("sd_us / mu_us", 4)
    ).replace(
        "{b}", spark_round_sql("(sd_us - mu_us) / (sd_us + mu_us)", 4)
    ),
)
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type: coefficient of variation of
    the gaps between consecutive arrivals, plus the Goh-Barabási
    burstiness parameter B = (σ−μ)/(σ+μ) ∈ [−1, 1]. This is the
    POINT-PROCESS test the count-based anomaly family can't do: CV = 1
    (B = 0) is exactly Poisson, CV < 1 is pacing/regularity (bot-like
    metronome traffic), CV > 1 is bursts (retry storms, thundering
    herds). Reading ~1.0 on the synthetic stream is the calibration pass;
    `text_term_burstiness` is the same dispersion idea over token counts.

    Plan: one type-keyed lag window (microsecond-exact gaps), one moment
    aggregate — a two-shuffle query at any scale.

    Cross-engine discipline (sf0.1 redraw seed 2317): CV and B are built
    from EXACT integer-microsecond moments (n, Σgap, Σgap²) in
    DECIMAL(38,0)/HUGEINT — stddev_samp/avg accumulate doubles in engine-
    and partition-order, and B near 0 exposed a new class on top of that:
    DuckDB ROUND(-2.98e-05, 4) = -0.0 while Spark's BigDecimal path gives
    +0.0 (signed-zero divergence). From identical integers both engines
    run one correctly-rounded IEEE chain (cast, /, sqrt), so the doubles
    are bit-identical and the oracle's spark_round_sql publishes the
    same 4-dp value. Magnitude contract: n·Σgap² ≤ ~1e36 at 1e12 gaps of
    ≤1e6 µs — inside DECIMAL(38,0), documented like functions/exact.py."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id), ts)"
    )
    arr = e.select("event_type", gap_us.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    m = arr.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("gap_us").cast("decimal(38,0)") * F.col("gap_us")).alias(
            "s2"
        ),
    )
    mu_us = F.col("s1").cast("double") / F.col("n_gaps").cast("double")
    sd_us = F.sqrt(
        (
            F.col("n_gaps").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1") * F.col("s1")
        ).cast("double")
        / (
            F.col("n_gaps").cast("decimal(38,0)") * (F.col("n_gaps") - 1)
        ).cast("double")
    )
    guard = F.col("n_gaps") > 1
    return (
        m.select(
            "event_type",
            "n_gaps",
            exact_round_ratio(
                F.col("s1"), F.col("n_gaps").cast("decimal(38,0)") * 1000000, 4
            ).alias("mean_gap_s"),
            F.when(guard, F.round(sd_us / mu_us, 4)).alias("cv"),
            F.when(
                guard, F.round((sd_us - mu_us) / (sd_us + mu_us), 4)
            ).alias("burstiness_b"),
        )
        .transform(sort_result, "event_type")
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test
# ---------------------------------------------------------------------------

_MK_Z975 = 1.959963984540054


@register(
    "events_mann_kendall_trend",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, SUM(value) AS rev
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN b.rev > a.rev THEN 1
                    WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    s AS (
        SELECT SUM(sgn) * 1.0 AS s,
               (SELECT COUNT(*) * 1.0 FROM daily) AS n
        FROM pairs
    ),
    z AS (
        SELECT n, s, n * (n - 1) * (2 * n + 5) / 18.0 AS var_s,
               CASE WHEN s > 0
                    THEN (s - 1) / sqrt(n * (n - 1) * (2 * n + 5) / 18.0)
                    WHEN s < 0
                    THEN (s + 1) / sqrt(n * (n - 1) * (2 * n + 5) / 18.0)
                    ELSE 0.0 END AS z
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS mk_s,
           ROUND(var_s, 2) AS var_s, ROUND(z, 4) AS mk_z,
           CAST(CASE WHEN ABS(z) > {_MK_Z975} THEN 1 ELSE 0 END AS BIGINT)
               AS trend_significant
    FROM z
    """,
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily purchase revenue: S = sum of
    pairwise sign comparisons over all day pairs, normal-approximate Z
    with the continuity correction, significance at the two-sided 5%
    level. The NONPARAMETRIC trend detector — no linearity or
    distribution assumption, immune to outliers that wreck an OLS slope
    (`events_holt_linear_trend` fits the magnitude; this tests the
    existence). S near 0 on the synthetic stream is the expected A/A
    reading.

    Plan: corpus collapses to |days| rows first; the pairwise sign join
    runs on that BOUNDED daily frame (30 days = 435 pairs — and at ANY
    horizon, days², not events², with the 10-year frame still being
    ~6.7M cheap comparisons). The no-ties variance formula applies —
    revenue sums are continuous; a tie-corrected variant subtracts the
    tie-group term."""
    from pyspark.sql import functions as _F

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").alias("rev"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.rev") > F.col("a.rev"), 1)
        .when(F.col("b.rev") < F.col("a.rev"), -1)
        .otherwise(0)
    )
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(sgn.alias("sgn"))
    n_df = daily.agg(F.count(F.lit(1)).cast("double").alias("n"))
    s = pairs.agg(F.sum("sgn").cast("double").alias("s")).crossJoin(
        F.broadcast(n_df)
    )
    var_s = F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s").cast("bigint").alias("mk_s"),
        F.round(var_s, 2).alias("var_s"),
        F.round(z, 4).alias("mk_z"),
        F.when(F.abs(z) > _MK_Z975, 1).otherwise(0).cast("bigint").alias(
            "trend_significant"
        ),
    )


# ---------------------------------------------------------------------------
# Haar wavelet multi-resolution energy
# ---------------------------------------------------------------------------


@register(
    "events_haar_wavelet_energy",
    oracle="""
    WITH hourly AS (
        SELECT row_number() OVER (ORDER BY h) - 1 AS t, n FROM (
            SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
                   COUNT(*) * 1.0 AS n
            FROM events GROUP BY 1)
    ),
    lv AS (
        SELECT l.lvl, (1 << l.lvl) AS blk, t // (1 << l.lvl) AS b,
               CASE WHEN (t % (1 << l.lvl)) < (1 << (l.lvl - 1))
                    THEN n ELSE -n END AS sn
        FROM hourly CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS lvl) l
    ),
    details AS (
        SELECT lvl, b, blk, SUM(sn) / blk AS detail, COUNT(*) AS cnt
        FROM lv GROUP BY lvl, b, blk HAVING COUNT(*) = blk
    )
    SELECT CAST(lvl AS BIGINT) AS level, CAST(blk AS BIGINT) AS block_hours,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           ROUND(SUM(detail * detail) / COUNT(*), 4) AS mean_sq_detail
    FROM details GROUP BY lvl, blk ORDER BY lvl
    """,
)
def events_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar multi-resolution energy: the mean squared Haar detail
    coefficient (half-block mean minus half-block mean) of the hourly
    event-rate series at dyadic scales 2/4/8/16 h — which TIMESCALE the
    series' variance lives at. White noise decays ~2x per level (the
    synthetic calibration reading); load oscillating on a 4 h cycle would
    spike level 2; a drifting mean pushes energy to the coarsest level.
    The time-frequency complement of `events_periodogram_dft` (global
    frequencies, no localization) and `events_changepoint_cusum` (single
    break): wavelet energy localizes WHERE in scale the structure sits.
    Incomplete trailing blocks are dropped exactly (HAVING count = block
    size) on both engines.

    Plan: one hourly rollup + rank window; the level axis is a 4-row
    broadcast cross join; details are one keyed aggregate per (level,
    block) over the ~720-point frame — corpus volume only prices the
    first rollup."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .select(
            (F.row_number().over(Window.orderBy("h")) - 1).alias("t"), "n"
        )
    )
    levels = spark.range(1, 5).select(F.col("id").cast("int").alias("lvl"))
    blk = F.expr("shiftleft(1, lvl)")
    half = F.expr("shiftleft(1, lvl - 1)")
    lv = hourly.crossJoin(F.broadcast(levels)).select(
        "lvl",
        blk.alias("blk"),
        F.floor(F.col("t") / blk).alias("b"),
        F.when((F.col("t") % blk) < half, F.col("n"))
        .otherwise(-F.col("n"))
        .alias("sn"),
    )
    details = (
        lv.groupBy("lvl", "b", "blk")
        .agg(
            (F.sum("sn") / F.col("blk")).alias("detail"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") == F.col("blk"))
    )
    return (
        details.groupBy("lvl", "blk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.round(
                F.sum(F.col("detail") * F.col("detail")) / F.count(F.lit(1)), 4
            ).alias("mean_sq_detail"),
        )
        .select(
            F.col("lvl").cast("bigint").alias("level"),
            F.col("blk").cast("bigint").alias("block_hours"),
            "n_blocks",
            "mean_sq_detail",
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# Rolling regression beta (trailing-window OLS slope)
# ---------------------------------------------------------------------------


@register(
    "events_rolling_beta_24h",
    oracle="""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1.0
                   AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1.0
                   AS y
        FROM events GROUP BY 1
    ),
    roll AS (
        SELECT h, COUNT(*) OVER w AS n, SUM(x) OVER w AS sx,
               SUM(y) OVER w AS sy, SUM(x * y) OVER w AS sxy,
               SUM(x * x) OVER w AS sxx
        FROM hourly
        WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT h,
           {beta} AS beta_24h
    FROM roll WHERE n = 24 ORDER BY h
    """.replace(
        # the rolling OLS slope is sign-capable near zero; its moments are
        # exact integer-valued doubles (hourly counts), so the doubles are
        # engine-identical and spark_round_sql closes the signed-zero +
        # rounding-procedure classes (sf0.1 redraw seed 2317 family)
        "{beta}",
        spark_round_sql(
            "(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)", 6
        ),
    ),
)
def events_rolling_beta_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope: how many purchases ride on each click, hour by
    hour, re-fit over a trailing 24 h window — the time-varying
    sensitivity ('beta') finance computes between instruments and growth
    teams compute between funnel stages; a static `agg_corr_*` hides
    exactly the regime changes this exposes. The slope comes from
    closed-form sufficient statistics (n, Σx, Σy, Σxy, Σx²) maintained by
    BOUNDED window frames — five running sums on ONE sort, no per-window
    refit, no UDF; the first 23 warm-up rows are excluded exactly (n=24
    filter) on both engines.

    Plan: one hourly conditional rollup, one trailing-frame window over
    the ~720-row series. At per-key scale (per segment per hour) the
    identical frame partitions by the key; sums stay mergeable."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    )
    w = Window.orderBy("h").rowsBetween(-23, 0)
    roll = hourly.select(
        "h",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        roll.filter(F.col("n") == 24)
        .select(
            "h",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.when(denom != 0, denom),
                6,
            ).alias("beta_24h"),
        )
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# STL-lite decomposition strength
# ---------------------------------------------------------------------------


@register(
    "events_stl_strength",
    oracle="""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               COUNT(*) * 1.0 AS n
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT h, n, hour(h) AS hod,
               AVG(n) OVER (ORDER BY h
                   ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS t,
               COUNT(*) OVER (ORDER BY h
                   ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS wn
        FROM hourly
    ),
    full_w AS (SELECT h, n, hod, t FROM tr WHERE wn = 24),
    seas AS (
        SELECT *, AVG(n - t) OVER (PARTITION BY hod) AS s FROM full_w
    ),
    comp AS (
        SELECT var_samp(n - t - s) AS vr,
               var_samp(n - t) AS v_sr,
               var_samp(n - s) AS v_tr
        FROM seas
    )
    SELECT ROUND(GREATEST(0, 1 - vr / v_sr), 4) AS seasonal_strength,
           ROUND(GREATEST(0, 1 - vr / v_tr), 4) AS trend_strength,
           ROUND(vr, 4) AS var_residual
    FROM comp
    """,
)
def events_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition strength (Hyndman's F_S/F_T features):
    trend = centered 24 h moving average, seasonal = hour-of-day means of
    the detrended series, and the two strengths 1 − Var(R)/Var(S+R) and
    1 − Var(R)/Var(T+R) say how much of the series is cycle vs drift vs
    noise. THE feature pair time-series classification and forecasting
    pipelines compute for every metric before choosing a model family
    (near-zero both = white noise, model nothing — the synthetic
    reading). Composes the spectral (`events_periodogram_dft`) and
    wavelet (`events_haar_wavelet_energy`) views with the decomposition
    view; partial edge windows are excluded exactly (wn = 24) on both
    engines.

    Plan: hourly rollup, one centered window, one hour-of-day partition
    average, one variance rollup — all on the ~720-row series frame."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    wc = Window.orderBy("h").rowsBetween(-11, 12)
    tr = hourly.select(
        "h",
        "n",
        F.hour("h").alias("hod"),
        F.avg("n").over(wc).alias("t"),
        F.count(F.lit(1)).over(wc).alias("wn"),
    ).filter(F.col("wn") == 24)
    seas = tr.withColumn(
        "s",
        F.avg(F.col("n") - F.col("t")).over(Window.partitionBy("hod")),
    )
    comp = seas.agg(
        F.var_samp(F.col("n") - F.col("t") - F.col("s")).alias("vr"),
        F.var_samp(F.col("n") - F.col("t")).alias("v_sr"),
        F.var_samp(F.col("n") - F.col("s")).alias("v_tr"),
    )
    return comp.select(
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("vr") / F.col("v_sr")), 4
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("vr") / F.col("v_tr")), 4
        ).alias("trend_strength"),
        F.round("vr", 4).alias("var_residual"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimation
# ---------------------------------------------------------------------------

_HILL_K = 200


@register(
    "stats_hill_tail_index",
    oracle=f"""
    WITH ranked AS (
        SELECT value, row_number() OVER (ORDER BY value DESC, event_id) AS r
        FROM events WHERE event_type = 'purchase' AND value > 0
    ),
    k AS (SELECT value AS xk FROM ranked WHERE r = {_HILL_K + 1}),
    top AS (SELECT value FROM ranked WHERE r <= {_HILL_K})
    SELECT CAST(COUNT(*) AS BIGINT) AS k_order_stats,
           ROUND((SELECT xk FROM k), 4) AS threshold_xk,
           ROUND(1.0 / AVG(ln(value / (SELECT xk FROM k))), 4) AS hill_alpha,
           ROUND(AVG(ln(value / (SELECT xk FROM k))), 6) AS mean_log_excess
    FROM top
    """,
)
def stats_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over the top-200 purchase
    values: alpha_hat = 1 / mean(ln(x_i / x_(k+1))). The heavy-tail
    diagnostic that decides whether means and variances of a metric are
    even TRUSTWORTHY (alpha < 2 = infinite variance, alpha < 1 = infinite
    mean — winsorization and robust statistics stop being optional);
    alpha ~ 2.9 on the synthetic values reads as a moderately heavy but
    variance-finite tail. Peaks-over-threshold sibling of
    `events_gumbel_peak_analysis`' block-maxima view; the k order
    statistics come from ONE TakeOrdered-style rank, not a full sort
    consumed downstream.

    Plan: filtered scan -> rank window -> 200-row frame + broadcast
    threshold scalar; everything after the top-k selection is
    constant-size."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 0)
    )
    ranked = e.select(
        "value",
        F.row_number()
        .over(Window.orderBy(F.desc("value"), "event_id"))
        .alias("r"),
    )
    xk = ranked.filter(F.col("r") == _HILL_K + 1).select(
        F.col("value").alias("xk")
    )
    top = ranked.filter(F.col("r") <= _HILL_K)
    # LEFT join on a constant predicate, not crossJoin: when the corpus has
    # fewer than K+1 qualifying rows the threshold frame is EMPTY, and a
    # cross join would collapse the result to count=0 while the oracle's
    # scalar subquery yields count=|top| with NULL stats. The left join
    # reproduces the scalar-subquery semantics exactly (NULL xk, NULL
    # log-excess, real count) — redraw-fuzz caught this divergence
    # (SCALE.md §Round 5 fuzz). Catalyst still broadcasts the ≤1-row side.
    return (
        top.join(F.broadcast(xk), F.lit(True), "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_order_stats"),
            F.round(F.first("xk"), 4).alias("threshold_xk"),
            F.round(
                1.0 / F.avg(F.log(F.col("value") / F.col("xk"))), 4
            ).alias("hill_alpha"),
            F.round(F.avg(F.log(F.col("value") / F.col("xk"))), 6).alias(
                "mean_log_excess"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Revenue drawdown profile
# ---------------------------------------------------------------------------


@register(
    "events_revenue_drawdown",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, SUM(value) AS rev
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    dd AS (
        SELECT d, rev, MAX(rev) OVER (ORDER BY d) AS peak,
               1 - rev / MAX(rev) OVER (ORDER BY d) AS drawdown
        FROM daily
    )
    SELECT ROUND(MAX(drawdown), 6) AS max_drawdown,
           ROUND(AVG(drawdown), 6) AS mean_drawdown,
           CAST(SUM(CASE WHEN drawdown > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
               AS days_below_90pct_peak,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM dd
    """,
)
def events_revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown profile of daily purchase revenue against its RUNNING
    PEAK: max drawdown (worst day relative to the best day seen so far),
    mean drawdown, and days spent more than 10% below peak — the
    risk/recovery lens finance applies to equity curves, applied to a
    revenue stream (a metric that 'only' shows stable averages can still
    spend a third of its days 10%+ under its own high-water mark — that
    gap is what on-call pages and forecasting buffers are sized to). The
    running-peak shape is one cumulative-max window, the same prefix
    machinery as `events_changepoint_cusum`'s running extrema.

    Plan: day rollup, one ordered window carrying cumulative max +
    derived drawdown, one summary aggregate — |days|-frame work after a
    single scan."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").alias("rev"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    # the running peak CAN be exactly 0 (a zero-revenue opening day —
    # ties+sparse-world fuzz snaps low values onto the 0 lattice point):
    # DuckDB division by zero yields NULL (the day has no drawdown
    # baseline) and its aggregates skip it; Spark ANSI raises — guard to
    # the shared NULL contract. The guard is peak != 0, NOT peak > 0:
    # DuckDB computes 1 - rev/peak for ANY nonzero peak, so a NEGATIVE
    # running peak (every value negative in a fuzz world) must produce a
    # value on both engines, exactly as window_ratio_to_report and
    # text_theil_length_inequality do (ADVICE r6)
    peak = F.max("rev").over(w)
    dd = daily.select(
        F.when(peak != 0, 1 - F.col("rev") / peak).alias("drawdown")
    )
    return dd.agg(
        F.round(F.max("drawdown"), 6).alias("max_drawdown"),
        F.round(F.avg("drawdown"), 6).alias("mean_drawdown"),
        F.sum(F.when(F.col("drawdown") > 0.1, 1).otherwise(0))
        .cast("bigint")
        .alias("days_below_90pct_peak"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# p-chart: proportion control chart for the error share
# ---------------------------------------------------------------------------


@register(
    "events_error_share_pchart",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, COUNT(*) * 1.0 AS n,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1.0
                   AS x
        FROM events GROUP BY 1
    ),
    pbar AS (SELECT SUM(x) / SUM(n) AS p FROM daily),
    chart AS (
        SELECT d.d, d.n, d.x / d.n AS share,
               p.p + 3 * sqrt(p.p * (1 - p.p) / d.n) AS ucl,
               GREATEST(p.p - 3 * sqrt(p.p * (1 - p.p) / d.n), 0) AS lcl
        FROM daily d, pbar p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND((SELECT p FROM pbar), 6) AS center_line,
           CAST(SUM(CASE WHEN share > ucl OR share < lcl
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS out_of_control_days,
           ROUND(MAX(share), 6) AS max_share,
           ROUND(MIN(share), 6) AS min_share
    FROM chart
    """,
)
def events_error_share_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart on the daily ERROR SHARE: center line = pooled
    proportion, control limits p̄ ± 3·sqrt(p̄(1−p̄)/n_day) — per-day
    limits that WIDEN on low-traffic days, which is exactly what naive
    fixed thresholds get wrong (a 25% error share is alarming on a
    10k-event day and noise on a 40-event day). The PROPORTION member of
    the SPC family next to `events_ewma_user_value` (level) and
    `events_changepoint_cusum` (drift); zero out-of-control days on
    binomially-generated data is the chart's calibration property, not a
    blind spot.

    Plan: one day rollup with conditional sums, broadcast pooled rate,
    limit arithmetic and the breach count on the |days| frame."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("double")
        .alias("x"),
    )
    pbar = daily.agg((F.sum("x") / F.sum("n")).alias("p"))
    sig = F.sqrt(F.col("p") * (1 - F.col("p")) / F.col("n"))
    chart = daily.crossJoin(F.broadcast(pbar)).select(
        "p",
        (F.col("x") / F.col("n")).alias("share"),
        (F.col("p") + 3 * sig).alias("ucl"),
        F.greatest(F.col("p") - 3 * sig, F.lit(0.0)).alias("lcl"),
    )
    return chart.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.first("p"), 6).alias("center_line"),
        F.sum(
            F.when(
                (F.col("share") > F.col("ucl")) | (F.col("share") < F.col("lcl")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("out_of_control_days"),
        F.round(F.max("share"), 6).alias("max_share"),
        F.round(F.min("share"), 6).alias("min_share"),
    )


# ---------------------------------------------------------------------------
# SRE multiwindow error-budget burn rate
# ---------------------------------------------------------------------------

_SLO_BUDGET = 0.25  # error-share objective for the synthetic stream


@register(
    "events_slo_burn_rate_alerts",
    oracle=f"""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
               COUNT(*) * 1.0 AS n,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1.0
                   AS err
        FROM events GROUP BY 1
    ),
    win AS (
        SELECT h,
               SUM(err) OVER w1 / NULLIF(SUM(n) OVER w1, 0) AS rate_1h,
               SUM(err) OVER w6 / NULLIF(SUM(n) OVER w6, 0) AS rate_6h,
               COUNT(*) OVER w6 AS n6
        FROM hourly
        WINDOW w1 AS (ORDER BY h ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
               w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    ),
    burn AS (
        SELECT h, rate_1h / {_SLO_BUDGET} AS burn_1h,
               rate_6h / {_SLO_BUDGET} AS burn_6h
        FROM win WHERE n6 = 6
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(MAX(burn_1h), 4) AS max_burn_1h,
           ROUND(AVG(burn_6h), 4) AS mean_burn_6h,
           CAST(SUM(CASE WHEN burn_1h > 14.4 AND burn_6h > 6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_page_alerts,
           CAST(SUM(CASE WHEN burn_6h > 6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ticket_alerts
    FROM burn
    """,
)
def events_slo_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn-rate alerting (the Google SRE workbook's
    multiwindow multi-burn-rate policy): hourly error share over trailing
    1 h and 6 h windows, normalized by the SLO budget into burn rates,
    with page alerts requiring BOTH the fast window to burn > 14.4x AND
    the slow window > 6x — the two-window AND is what kills the
    flappiness of single-window threshold alerts. Mean burn < 1 with
    zero alerts on the synthetic stream = the SLO holds (the same
    calibration posture as the p-chart, which flags DISTRIBUTIONAL
    breaks; burn rate flags BUDGET exhaustion speed).

    Plan: hourly conditional rollup, two trailing frames on one sort,
    threshold arithmetic on the ~720-row series."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("double")
        .alias("err"),
    )
    w1 = Window.orderBy("h").rowsBetween(0, 0)
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    win = hourly.select(
        "h",
        (F.sum("err").over(w1) / F.sum("n").over(w1)).alias("rate_1h"),
        (F.sum("err").over(w6) / F.sum("n").over(w6)).alias("rate_6h"),
        F.count(F.lit(1)).over(w6).alias("n6"),
    ).filter(F.col("n6") == 6)
    burn = win.select(
        (F.col("rate_1h") / _SLO_BUDGET).alias("burn_1h"),
        (F.col("rate_6h") / _SLO_BUDGET).alias("burn_6h"),
    )
    return burn.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.round(F.max("burn_1h"), 4).alias("max_burn_1h"),
        F.round(F.avg("burn_6h"), 4).alias("mean_burn_6h"),
        F.sum(
            F.when((F.col("burn_1h") > 14.4) & (F.col("burn_6h") > 6), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_page_alerts"),
        F.sum(F.when(F.col("burn_6h") > 6, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ticket_alerts"),
    )


# ---------------------------------------------------------------------------
# Weekday-adjusted volume anomaly screen
# ---------------------------------------------------------------------------


@register(
    "events_volume_anomaly_weekday_adjusted",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, dayofweek(ts) AS dow,
               COUNT(*) * 1.0 AS n
        FROM events GROUP BY 1, 2
    ),
    adj AS (
        SELECT d, n,
               AVG(n) OVER (PARTITION BY dow) AS dow_mean,
               n - AVG(n) OVER (PARTITION BY dow) AS resid
        FROM daily
    ),
    stats AS (SELECT stddev_samp(resid) AS s FROM adj)
    SELECT a.d AS day, CAST(a.n AS BIGINT) AS n_events,
           ROUND(a.dow_mean, 2) AS weekday_baseline,
           ROUND(a.resid / t.s, 4) AS adjusted_z
    FROM adj a, stats t
    WHERE ABS(a.resid / t.s) > 1.5
    ORDER BY a.d
    """,
)
def events_volume_anomaly_weekday_adjusted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonally-ADJUSTED volume anomaly: daily event counts scored
    against their own weekday's baseline (residual z over the pooled
    residual spread), flagging |z| > 1.5 — the screen that stops every
    Monday from paging as a 'spike' and every Sunday as a 'drop', which
    is what an unadjusted daily z-score (`events_value_zscore_outliers`'
    volume analog) inevitably does on weekly-seasonal traffic. The
    weekday PARTITION never reaches the output, so Spark's 1=Sunday vs
    DuckDB's 0=Sunday labeling is irrelevant (the ANOVA query's
    discipline).

    Plan: day rollup, one weekday-partition mean window, one scalar
    residual-spread broadcast, filter — |days|-frame work after one
    scan."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("d"),
        F.dayofweek("ts").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    dow_mean = F.avg("n").over(Window.partitionBy("dow"))
    adj = daily.select(
        "d",
        "n",
        dow_mean.alias("dow_mean"),
        (F.col("n") - dow_mean).alias("resid"),
    )
    stats = adj.agg(F.stddev_samp("resid").alias("s"))
    # s CAN be exactly 0 (every day is its weekday's only day → all
    # residuals 0 — sparse-world fuzz): DuckDB's resid/0 is NULL and fails
    # the |z| filter, Spark ANSI raises — compute z NULL-guarded so both
    # engines emit zero anomalies on a zero-spread series
    z = F.when(F.col("s") > 0, F.col("resid") / F.col("s"))
    return (
        adj.crossJoin(F.broadcast(stats))
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 1.5)
        .select(
            F.col("d").alias("day"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round("dow_mean", 2).alias("weekday_baseline"),
            F.round("z", 4).alias("adjusted_z"),
        )
        .transform(sort_result, "day")
    )
