"""Join pack (SURVEY.md §2.3 J2-J4): every join type + theta/band + as-of.

Physical-plan stance: dimension sides broadcast; fact-fact joins shuffle on
their keys (bucketing co-locates them at scale); the band join is an equi
hash join with a residual predicate (never a nested loop); the as-of join is
the union+window form (one shuffle, no explosion — see operators/joins.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators.joins import asof_join, band_join
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register


@register(
    "join_left_outer_yoy_revenue",
    oracle="""
    WITH y96 AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS rev96
                 FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY o_custkey),
         y97 AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS rev97
                 FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY o_custkey)
    SELECT COALESCE(y96.o_custkey, y97.o_custkey) AS custkey,
           COALESCE(rev96, 0.0) AS rev96,
           COALESCE(rev97, 0.0) AS rev97,
           ROUND(COALESCE(rev97, 0.0) - COALESCE(rev96, 0.0), 2) AS delta
    FROM y96 FULL OUTER JOIN y97 ON y96.o_custkey = y97.o_custkey
    ORDER BY custkey
    """,
)
def join_full_outer_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue per customer via FULL OUTER join (nulls on both
    sides exercised, coalesced deterministically)."""
    o = load_table(spark, sf_dir, "orders")

    def year_rev(y0: str, y1: str, alias: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(y0).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(y1).cast("timestamp"))
            )
            .groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 2).alias(alias))
        )

    y96 = year_rev("1996-01-01", "1997-01-01", "rev96")
    y97 = year_rev("1997-01-01", "1998-01-01", "rev97")
    return (
        y96.join(y97, "o_custkey", "full_outer")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.coalesce("rev96", F.lit(0.0)).alias("rev96"),
            F.coalesce("rev97", F.lit(0.0)).alias("rev97"),
            F.round(
                F.coalesce("rev97", F.lit(0.0)) - F.coalesce("rev96", F.lit(0.0)), 2
            ).alias("delta"),
        )
        .transform(sort_result, "custkey")
    )


@register(
    "join_semi_urgent_buyers",
    oracle="""
    SELECT n.n_name AS n_name, CAST(COUNT(*) AS BIGINT) AS n_urgent_buyers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY n.n_name ORDER BY n_name
    """,
)
def join_semi_urgent_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers having ≥1 urgent order, counted per nation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_urgent_buyers"))
        .transform(sort_result, "n_name")
    )


@register(
    "join_anti_no_urgent_orders",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def join_anti_no_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no urgent orders, counted per segment."""
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .transform(sort_result, "c_mktsegment")
    )


@register(
    "join_band_acctbal",
    oracle="""
    SELECT s.s_suppkey AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_close_customers
    FROM supplier s
    JOIN customer c ON s.s_nationkey = c.c_nationkey
                   AND ABS(s.s_acctbal - c.c_acctbal) < 100.0
    GROUP BY s.s_suppkey ORDER BY s_suppkey
    """,
)
def join_band_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/band join (J3): same-nation supplier-customer pairs with account
    balances within 100 — equi hash join on nation + residual band filter."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    joined = band_join(
        s,
        c,
        equi=s.s_nationkey == c.c_nationkey,
        band=F.abs(s.s_acctbal - c.c_acctbal) < 100.0,
    )
    return (
        joined.groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_close_customers"))
        .transform(sort_result, "s_suppkey")
    )


@register(
    "join_asof_last_click_before_error",
    oracle="""
    WITH errors AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'error'),
         clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                           MAX(event_id) AS click_id
                    FROM events WHERE event_type = 'click'
                    GROUP BY user_id, CAST(ts AS TIMESTAMP))
    SELECT e.event_id AS event_id, e.user_id AS user_id, e.ts AS ts,
           c.click_id AS asof_click_id, c.ts AS asof_click_ts
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY event_id
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J4): for every error event, the same user's most recent
    click at-or-before it. Union+window implementation vs DuckDB's native
    ASOF JOIN as the oracle."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    out = asof_join(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["click_id", "click_ts"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_click_id"),
        F.col("asof_click_ts"),
    ).transform(sort_result, "event_id")


@register(
    "join_asof_bucketed_click_before_error",
    oracle="""
    WITH errors AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'error'),
         clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                           MAX(event_id) AS click_id
                    FROM events WHERE event_type = 'click'
                    GROUP BY user_id, CAST(ts AS TIMESTAMP))
    SELECT e.event_id AS event_id, e.user_id AS user_id, e.ts AS ts,
           c.click_id AS asof_click_id, c.ts AS asof_click_ts
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY event_id
    """,
)
def join_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe as-of join (J4 at scale): identical semantics to
    ``join_asof_last_click_before_error`` — same DuckDB ASOF JOIN oracle —
    but computed with :func:`asof_join_bucketed`, which salts the big window
    with a day bucket so a hot user's history splits across tasks instead of
    serializing through one sort (VERDICT r2 item 7). The oracle twin proves
    the two-level carry logic changes nothing."""
    from cobalt_duckdb_spark.operators.joins import asof_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    out = asof_join_bucketed(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["click_id", "click_ts"],
        bucket_fn=lambda t: F.unix_date(F.to_date(t)),
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_click_id"),
        F.col("asof_click_ts"),
    ).transform(sort_result, "event_id")


@register(
    "join_asof_next_click_after_error",
    oracle="""
    WITH errors AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'error'),
         clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                           MAX(event_id) AS click_id
                    FROM events WHERE event_type = 'click'
                    GROUP BY user_id, CAST(ts AS TIMESTAMP))
    SELECT e.event_id AS event_id, e.user_id AS user_id, e.ts AS ts,
           c.click_id AS asof_click_id, c.ts AS asof_click_ts
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts <= c.ts
    ORDER BY event_id
    """,
)
def join_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (J4 mirror): for every error event, the same
    user's earliest click at-or-after it — the recovery-action lookup
    (did the user click again after the error, and when). Same union+window
    merge-asof plan as backward, with the window mirrored
    (first-ignorenulls over current→following); one user_id shuffle, no
    row explosion."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    out = asof_join(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["click_id", "click_ts"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_click_id"),
        F.col("asof_click_ts"),
    ).transform(sort_result, "event_id")


@register(
    "join_asof_nearest_click_to_error",
    oracle="""
    WITH errors AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'error'),
         clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                           MAX(event_id) AS click_id
                    FROM events WHERE event_type = 'click'
                    GROUP BY user_id, CAST(ts AS TIMESTAMP))
    SELECT e.event_id AS event_id, e.user_id AS user_id, e.ts AS ts,
           c.click_id AS nearest_click_id, c.ts AS nearest_click_ts
    FROM errors e
    LEFT JOIN LATERAL (
        SELECT c.ts, c.click_id
        FROM clicks c WHERE c.user_id = e.user_id
        ORDER BY ABS(epoch_us(c.ts) - epoch_us(e.ts)), (c.ts > e.ts)
        LIMIT 1
    ) c ON true
    ORDER BY event_id
    """,
)
def join_asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (J4, ``direction='nearest'``): for every error, the
    same user's temporally CLOSEST click in either direction, backward
    winning ties — pandas ``merge_asof(direction='nearest')``, which neither
    engine has natively. Spark runs the one-shuffle two-frame window plan
    (``operators/joins.py::asof_join_nearest``); the oracle is a completely
    different algorithm (DuckDB LATERAL per-row argmin scan) arriving at the
    same answer — the strongest kind of differential check."""
    from cobalt_duckdb_spark.operators.joins import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join_nearest(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["click_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("click_id_nearest").alias("nearest_click_id"),
        F.col("matched_time").alias("nearest_click_ts"),
    ).transform(sort_result, "event_id")


@register(
    "join_range_bucketed_incident_clicks",
    oracle="""
    WITH incidents AS (
        SELECT event_id AS incident_id, CAST(ts AS TIMESTAMP) AS t0,
               CAST(ts AS TIMESTAMP) + INTERVAL 15 MINUTE AS t1
        FROM events WHERE event_type = 'error' AND event_id % 10 = 0
    ),
    clicks AS (
        SELECT event_id AS click_id, CAST(ts AS TIMESTAMP) AS ct
        FROM events WHERE event_type = 'click'
    )
    SELECT i.incident_id,
           CAST(COUNT(c.click_id) AS BIGINT) AS n_clicks,
           MIN(c.click_id) AS first_click_id,
           MAX(c.click_id) AS last_click_id
    FROM incidents i JOIN clicks c ON c.ct >= i.t0 AND c.ct <= i.t1
    GROUP BY i.incident_id
    ORDER BY i.incident_id
    """,
)
def join_range_bucketed_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join with NO equi key — any clicks (all
    users) during any incident window. DuckDB's planner handles the bare
    BETWEEN join natively (IEJoin); Spark would fall back to
    BroadcastNestedLoopJoin, which dies when neither side broadcasts — so
    this runs :func:`range_join_bucketed`: intervals explode into the
    15-minute buckets they cover (≤2 rows each at this width), the join
    becomes a hash join on the bucket, and the exact BETWEEN filters
    residually. Same answer, shuffle-join scaling."""
    from cobalt_duckdb_spark.operators.joins import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    incidents = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 10 == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("t1"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("ct")
    )
    bucket = lambda t: F.floor(  # noqa: E731 — 15-min buckets == interval width
        F.unix_timestamp(t.cast("timestamp")) / 900
    )
    joined = range_join_bucketed(
        clicks, incidents, left_time="ct", right_start="t0", right_end="t1",
        bucket_fn=bucket,
    )
    return (
        joined.groupBy("incident_id")
        .agg(
            F.count("click_id").cast("bigint").alias("n_clicks"),
            F.min("click_id").alias("first_click_id"),
            F.max("click_id").alias("last_click_id"),
        )
        .transform(sort_result, "incident_id")
    )


@register(
    "join_asof_tolerance_click_before_error",
    oracle="""
    WITH errors AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'error'),
         clicks AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                           MAX(event_id) AS click_id
                    FROM events WHERE event_type = 'click'
                    GROUP BY user_id, CAST(ts AS TIMESTAMP)),
         matched AS (
             SELECT e.event_id, e.user_id, e.ts,
                    c.click_id, c.ts AS click_ts
             FROM errors e
             ASOF LEFT JOIN clicks c
               ON e.user_id = c.user_id AND e.ts >= c.ts
         )
    SELECT event_id, user_id, ts,
           CASE WHEN click_ts IS NOT NULL
                 AND date_diff('microsecond', click_ts, ts) <= 600000000
                THEN click_id END AS asof_click_id,
           CASE WHEN click_ts IS NOT NULL
                 AND date_diff('microsecond', click_ts, ts) <= 600000000
                THEN click_ts END AS asof_click_ts,
           (click_ts IS NOT NULL
            AND date_diff('microsecond', click_ts, ts) > 600000000)
               AS dropped_by_tolerance
    FROM matched
    ORDER BY event_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE (pandas ``merge_asof(tolerance=...)``):
    the most recent click before each error counts only if it is within 10
    minutes — a stale last-click is attribution noise, not a cause. The
    tolerance is a POST-FILTER on the standard as-of match (null out, keep
    the left row): the window machinery is unchanged, so this composes
    with the skew-bucketed variant too. `dropped_by_tolerance` makes the
    difference to the plain as-of auditable."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    out = asof_join(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["click_id", "click_ts"],
    )
    within = F.col("asof_click_ts").isNotNull() & (
        F.expr("timestampdiff(MICROSECOND, asof_click_ts, ts)")
        <= 600_000_000
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("asof_click_id")).alias("asof_click_id"),
        F.when(within, F.col("asof_click_ts")).alias("asof_click_ts"),
        (
            F.col("asof_click_ts").isNotNull()
            & (
                F.expr("timestampdiff(MICROSECOND, asof_click_ts, ts)")
                > 600_000_000
            )
        ).alias("dropped_by_tolerance"),
    ).transform(sort_result, "event_id")
