"""Window-function pack (SURVEY.md §2.5 W1-W2).

The reference computes its rank by physical row position after a sort
(``/root/reference/model/search/vector.py:186``); here the full window-family
is expressed properly: ranking, analytic (lag/lead/first/last) and frame
specs (rows/range). All windows partition by a key — an unpartitioned window
collapses to a single task and dies at scale (the flagship's k-row window is
the one sanctioned exception).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register


@register(
    "window_rank_family",
    oracle="""
    SELECT n_name, c_custkey,
           ROUND(c_acctbal, 2) AS acctbal,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
    QUALIFY row_number() OVER w <= 5
    ORDER BY n_name, rn
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 customers by balance per nation with the whole ranking family."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .filter(F.col("rn") <= 5)
        .transform(sort_result, "n_name", "rn")
    )


@register(
    "window_lag_lead_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_orderdate)  OVER w AS prev_orderdate,
           lead(o_orderdate) OVER w AS next_orderdate,
           CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
               AS days_since_prev
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def window_lag_lead_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline with lag/lead + day gaps."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_orderdate"),
        F.lead("o_orderdate").over(w).alias("next_orderdate"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag("o_orderdate").over(w).cast("date"),
        )
        .cast("bigint")
        .alias("days_since_prev"),
    ).transform(sort_result, "o_custkey", "o_orderdate", "o_orderkey")


@register(
    "window_moving_avg_rows_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(AVG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg_3,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           ROUND(first_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS first_price,
           ROUND(last_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_price
    FROM orders
    WHERE o_custkey < 25
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames: 3-row moving average, running total, first/last value."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 25)
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.avg("o_totalprice").over(wo.rowsBetween(-2, 0)), 4).alias(
            "moving_avg_3"
        ),
        F.round(
            F.sum("o_totalprice").over(wo.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_total"),
        F.round(F.first("o_totalprice").over(wo), 2).alias("first_price"),
        F.round(
            F.last("o_totalprice").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
            2,
        ).alias("last_price"),
    ).transform(sort_result, "o_custkey", "o_orderdate", "o_orderkey")


@register(
    "window_range_frame_value",
    oracle="""
    SELECT user_id, event_id, ROUND(value, 2) AS value,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY CAST(ROUND(value * 100, 0) AS BIGINT)
               RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS BIGINT) AS n_within_5
    FROM events
    WHERE user_id < 10 AND value IS NOT NULL
    ORDER BY user_id, value, event_id
    """,
)
def window_range_frame_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering column: for each event, how many of
    the same user's events have value within ±5. Values are 2-dp currency, so
    ordering by integer cents keeps the frame bounds integral (Spark's
    rangeBetween takes long offsets) and the comparison exact in both engines.

    Runs through :func:`range_frame_window_bucketed` — partitioned on
    (user, 1000-cent bucket) with ≤2× row replication instead of one task
    per user, so a hot user's events spread across value buckets (skew
    probe: ×8.1 → flat)."""
    from cobalt_duckdb_spark.operators.windows import range_frame_window_bucketed

    # a RANGE frame needs a concrete ordering value for every row: a NULL
    # value has no ±5 band (and the engines disagree on where NULL order
    # keys sit), so NULL-value rows are excluded on both sides
    # (NULL-world fuzz, r6)
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 10) & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    out = range_frame_window_bucketed(
        e.withColumn("_cents", cents),
        ["user_id"],
        F.col("_cents"),
        -500,
        500,
        {"n_within_5": lambda w: F.count(F.lit(1)).over(w).cast("bigint")},
        bucket_width=1000,
    )
    return out.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        "n_within_5",
    ).transform(sort_result, "user_id", "value", "event_id")


@register(
    "window_trailing_hour_count",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
               RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_trailing_1h,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
               RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           ), 2) AS value_trailing_1h
    FROM events
    WHERE user_id < 10
    ORDER BY user_id, ts, event_id
    """,
)
def window_trailing_hour_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour sliding window per event (rate limiting / burst
    detection shape). Spark's rangeBetween takes LONG offsets, so the
    ordering column is epoch MICROseconds — full timestamp precision, exactly
    DuckDB's RANGE INTERVAL semantics (ordering by epoch seconds would
    truncate and disagree at boundaries).

    Runs through :func:`range_frame_window_bucketed` on a (user, hour
    bucket) partition — the trailing-hour frame replicates each row into
    at most the next hour bucket, so a hot user's stream splits across
    hours instead of serializing through one task."""
    from cobalt_duckdb_spark.operators.windows import range_frame_window_bucketed

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    # ts is TIMESTAMP_NTZ (io.load_table); unix_micros needs LTZ. The cast
    # interprets wall time in the session tz — only frame *differences*
    # matter for RANGE membership, so any fixed offset cancels out.
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    out = range_frame_window_bucketed(
        e,
        ["user_id"],
        micros,
        -3_600_000_000,
        0,
        {
            "n_trailing_1h": lambda w: F.count(F.lit(1)).over(w).cast("bigint"),
            "value_trailing_1h": lambda w: F.round(F.sum("value").over(w), 2),
        },
        bucket_width=3_600_000_000,
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "n_trailing_1h",
        "value_trailing_1h",
    ).transform(sort_result, "user_id", "ts", "event_id")


@register(
    "window_ratio_to_report",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               SUM(value) AS revenue
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(day AS VARCHAR) AS day,
           ROUND(revenue, 2) AS revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY event_type), 6)
               AS share_of_type,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY day), 6)
               AS share_of_day
    FROM daily
    ORDER BY event_type, day
    """,
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report (percent-of-total) along two axes at once: each
    (type, day) cell's share of its type's total and of its day's total —
    the contribution-analysis window Oracle calls RATIO_TO_REPORT. Input is
    the aggregated |types|×|days| frame, so both unbounded windows run over
    a tiny table regardless of event volume; the two different partition
    keys mean two exchanges of that tiny frame, not of raw events."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum("value").alias("revenue"))
    by_type = Window.partitionBy("event_type")
    by_day = Window.partitionBy("day")
    # a partition's total CAN be exactly 0 (every value in it snapped to
    # the 0 lattice point — ties+sparse-world fuzz): DuckDB division by
    # zero yields NULL, Spark ANSI raises — guard to the shared NULL
    # contract (no total, no share)
    tot_type = F.sum("revenue").over(by_type)
    tot_day = F.sum("revenue").over(by_day)
    return daily.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round("revenue", 2).alias("revenue"),
        F.round(
            F.when(tot_type != 0, F.col("revenue") / tot_type), 6
        ).alias("share_of_type"),
        F.round(
            F.when(tot_day != 0, F.col("revenue") / tot_day), 6
        ).alias("share_of_day"),
    ).transform(sort_result, "event_type", "day")


@register(
    "window_distinct_trailing",
    oracle="""
    SELECT event_id,
           user_id,
           event_type,
           CAST(len(list_distinct(list(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           ))) AS BIGINT) AS distinct_types_last10
    FROM events WHERE user_id < 15
    ORDER BY user_id, CAST(ts AS TIMESTAMP), event_id
    """,
)
def window_distinct_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) over a sliding frame — behavioral-diversity-as-you-go
    (how many distinct event types in a user's last 10 actions; the bot
    heuristic's streaming-ish cousin). Neither engine supports DISTINCT
    aggregates as windows, so both collect the bounded 10-element frame and
    deduplicate it: `collect_list` → `array_distinct` → `size`. Frame-bound
    discipline: per-row state is capped at 10 elements, so the window's
    memory is O(frame), never O(history) — the same contract as the EWMA
    and rolling-median folds."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 15)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.size(F.array_distinct(F.collect_list("event_type").over(w)))
            .cast("bigint")
            .alias("distinct_types_last10"),
            "ts",
        )
        .transform(sort_result, "user_id", "ts", "event_id")
        .drop("ts")
    )
