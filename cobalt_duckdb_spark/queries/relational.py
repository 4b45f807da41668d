"""Relational operator pack (SURVEY.md §2 A1-A5, P8, O1-O3, §2.7, F8).

TPC-H-shaped queries over the star schema. Every float output is rounded on
both engines (cross-engine double summation differs in the last ulp — partial
aggregation order is nondeterministic in Spark by design); every integer
aggregate is cast to BIGINT on both sides (DuckDB SUM(int) yields HUGEINT).

Scale notes (100 TB design stance):
- group-bys here are low-cardinality → Tungsten partial aggregation collapses
  the shuffle to |groups|×|partitions| rows; no skew risk.
- top-k = orderBy().limit() → TakeOrderedAndProject (per-partition heaps),
  never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.exact import (
    exact_round_avg,
    exact_round_avg_int,
    exact_round_avg_int_sql,
    exact_round_avg_sql,
    exact_round_sum,
    exact_round_sum_sql,
    spark_round_sql,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register


# --- A1: TPC-H Q1 pricing summary (hash aggregate, partial+final) ----------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           {disc_price_sum} AS sum_disc_price,
           {charge_sum} AS sum_charge,
           {avg_qty} AS avg_qty,
           {avg_price} AS avg_price,
           {avg_disc} AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """.replace(
        "{disc_price_sum}",
        exact_round_sum_sql("l_extendedprice * (1 - l_discount)", 2),
    )
    .replace(
        "{charge_sum}",
        exact_round_sum_sql(
            "l_extendedprice * (1 - l_discount) * (1 + l_tax)", 2
        ),
    )
    .replace("{avg_qty}", exact_round_avg_int_sql("l_quantity", 4, 0))
    .replace("{avg_price}", exact_round_avg_sql("l_extendedprice", 4))
    .replace("{avg_disc}", exact_round_avg_int_sql("l_discount", 4, 2)),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1. Raw-column sums at their own 2-dp grid are safe to round
    as doubles; the product sums (1e-4 / 1e-6 lattices) and the 4-dp means
    (exact half-way points when a group size is 2^a·5^b) use the exact
    discipline of functions/exact.py so the result is independent of
    accumulation order AND engine rounding procedure. The qty/discount
    means ride the BIGINT lattice path (integer- and cent-valued columns;
    ~3× cheaper accumulators than decimal, same exactness — SCALE.md);
    the price mean keeps the decimal path for 100 TB sum headroom."""
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            exact_round_sum(disc_price, 2).alias("sum_disc_price"),
            exact_round_sum(disc_price * (1 + F.col("l_tax")), 2).alias(
                "sum_charge"
            ),
            exact_round_avg_int(F.col("l_quantity"), 4, 0).alias("avg_qty"),
            exact_round_avg(F.col("l_extendedprice"), 4).alias("avg_price"),
            exact_round_avg_int(F.col("l_discount"), 4, 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .transform(sort_result, "l_returnflag", "l_linestatus")
    )


# --- TPC-H Q3: shipping priority (3-way join + agg + top-k) -----------------


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS l_orderkey,
           {rev} AS revenue,
           o.o_orderdate AS o_orderdate,
           o.o_orderpriority AS o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15'
      AND l.l_shipdate > TIMESTAMP '1997-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """.replace(
        "{rev}", exact_round_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)
    ),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    # customer is the small side after its segment filter → broadcast;
    # orders⨝lineitem shuffles on orderkey (co-partitioned at scale by
    # bucketing both on orderkey).
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # exact 1e-4-lattice sum: rounded revenue (also the sort key!)
            # must not depend on accumulation order — functions/exact.py
            exact_round_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- TPC-H Q5: local supplier volume (6-way join) ---------------------------


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS n_name,
           {rev} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """.replace(
        "{rev}", exact_round_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)
    ),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # dims (supplier/nation/region) broadcast — lineitem⨝orders is the only
    # real shuffle; dim-side filters prune before broadcast.
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            exact_round_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .transform(sort_result, F.desc("revenue"), F.asc("n_name"))
    )


# --- A2: count distinct ------------------------------------------------------


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .transform(sort_result, "o_orderpriority")
    )


# --- A3: rollup / cube / grouping sets --------------------------------------


@register(
    "agg_rollup_revenue",
    oracle="""
    SELECT r.r_name AS r_name, n.n_name AS n_name,
           CAST(GROUPING(r.r_name) AS BIGINT) AS g_region,
           CAST(GROUPING(n.n_name) AS BIGINT) AS g_nation,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY g_region, g_nation, r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("bigint").alias("g_region"),
            F.grouping("n_name").cast("bigint").alias("g_nation"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            "r_name", "n_name", "g_region", "g_nation", "total_acctbal", "n_customers"
        )
        .transform(
            sort_result,
            "g_region",
            "g_nation",
            F.col("r_name").asc_nulls_first(),
            F.col("n_name").asc_nulls_first(),
        )
    )


@register(
    "agg_cube_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def agg_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n_items", "sum_qty")
        .transform(
            sort_result,
            "g_flag",
            "g_status",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --- A4: collect/array aggregation (deterministic: sorted) ------------------


@register(
    "agg_collect_sorted_list",
    oracle="""
    SELECT n.n_name AS n_name,
           string_agg(DISTINCT c.c_mktsegment, '|' ORDER BY c.c_mktsegment)
               AS segments,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n_name
    """,
)
def agg_collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 ordered collect, serialized for the hash gate: the distinct set is
    sorted then '|'-joined so the output column is a scalar STRING (array
    cells are unhashable for the driver's canonicalizer)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(
                "|", F.sort_array(F.collect_set("c_mktsegment"))
            ).alias("segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .transform(sort_result, "n_name")
    )


# --- A5: statistical aggregates ---------------------------------------------


@register(
    "agg_stats_orders",
    oracle="""
    SELECT o_orderstatus,
           {avg_d} AS avg_price,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS stddev_price,
           ROUND(VAR_SAMP(o_totalprice), 2) AS var_price,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """.replace("{avg_d}", exact_round_avg_sql("o_totalprice", 4)),
)
def agg_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            exact_round_avg(F.col("o_totalprice"), 4).alias("avg_price"),
            F.round(F.stddev_samp("o_totalprice"), 4).alias("stddev_price"),
            F.round(F.var_samp("o_totalprice"), 2).alias("var_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.percentile("o_totalprice", 0.5), 4).alias("median_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .transform(sort_result, "o_orderstatus")
    )


@register(
    "agg_corr_quantity_price",
    oracle="""
    SELECT l_returnflag,
           {corr} AS corr_qty_price,
           {covar} AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.replace(
        # sign-capable near-zero statistics publish through spark_round_sql:
        # DuckDB's plain ROUND keeps IEEE -0.0 for tiny negatives while
        # Spark's BigDecimal round normalizes to +0.0 (signed-zero class,
        # sf0.1 redraw seed 2317)
        "{corr}", spark_round_sql("corr(l_quantity, l_extendedprice)", 6)
    ).replace(
        "{covar}", spark_round_sql("covar_samp(l_quantity, l_extendedprice)", 4)
    ),
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar_qty_price"
            ),
        )
        .transform(sort_result, "l_returnflag")
    )


# --- P8: predicate pack (IN / BETWEEN / LIKE / null-safe) --------------------


@register(
    "predicate_pack_part",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
    FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND p_size BETWEEN 10 AND 40
      AND p_name LIKE '%a%'
      AND p_retailprice IS NOT NULL
    ORDER BY p_partkey
    """,
)
def predicate_pack_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            & F.col("p_size").between(10, 40)
            & F.col("p_name").like("%a%")
            & F.col("p_retailprice").isNotNull()
        )
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
        .transform(sort_result, "p_partkey")
    )


# --- O1-O3: sort + limit → TakeOrderedAndProject ----------------------------


@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice_r
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice_r")
        )
        .orderBy(F.desc("o_totalprice_r"), F.asc("o_orderkey"))
        .limit(25)
    )


# --- §2.7: set operations ----------------------------------------------------


@register(
    "setop_union_intersect_except",
    oracle="""
    WITH b1994 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                     AND o_orderdate < TIMESTAMP '1997-01-01'),
         b1995 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                     AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT o_custkey FROM b1994 UNION SELECT o_custkey FROM b1995)
    UNION ALL
    SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT o_custkey FROM b1994 INTERSECT SELECT o_custkey FROM b1995)
    UNION ALL
    SELECT 'except' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT o_custkey FROM b1994 EXCEPT SELECT o_custkey FROM b1995)
    ORDER BY op
    """,
)
def setop_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def buyers(y0: str, y1: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(y0).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(y1).cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    b94 = buyers("1996-01-01", "1997-01-01")
    b95 = buyers("1997-01-01", "1998-01-01")
    spark_counts = [
        ("union", b94.union(b95).distinct()),
        ("intersect", b94.intersect(b95)),
        ("except", b94.exceptAll(b95).distinct()),
    ]
    parts = [
        df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        for op, df in spark_counts
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("op")


# --- F8: scalar function pack (string / date / math) -------------------------


@register(
    "scalar_string_date_math",
    oracle="""
    SELECT o_orderkey,
           upper(o_orderstatus) AS status_upper,
           substr(o_orderpriority, 1, 1) AS prio_code,
           concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
           CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           date_trunc('month', o_orderdate) AS order_month_start,
           ROUND(sqrt(o_totalprice), 4) AS sqrt_price,
           ROUND(ln(o_totalprice + 1), 6) AS ln_price,
           CAST(ABS(o_custkey - 100) AS BIGINT) AS key_dist,
           ROUND(POW(o_totalprice, 0.5) + ABS(o_totalprice * -1), 4) AS math_mix
    FROM orders
    WHERE o_orderkey % 100 = 0
    ORDER BY o_orderkey
    """,
)
def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat(
            F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")
        ).alias("status_prio"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
        F.round(F.sqrt("o_totalprice"), 4).alias("sqrt_price"),
        F.round(F.log(F.col("o_totalprice") + 1), 6).alias("ln_price"),
        F.abs(F.col("o_custkey") - 100).cast("bigint").alias("key_dist"),
        F.round(
            F.pow("o_totalprice", F.lit(0.5)) + F.abs(F.col("o_totalprice") * -1), 4
        ).alias("math_mix"),
    ).transform(sort_result, "o_orderkey")


@register(
    "distinct_mktsegments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
)
def distinct_mktsegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .distinct()
        .transform(sort_result, "c_mktsegment")
    )


@register(
    "setop_bag_semantics",
    oracle="""
    WITH a AS (SELECT l_returnflag FROM lineitem WHERE l_orderkey < 1000),
         b AS (SELECT l_returnflag FROM lineitem
               WHERE l_orderkey >= 500 AND l_orderkey < 1500)
    SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'except_all', CAST(COUNT(*) AS BIGINT)
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'union_all', CAST(COUNT(*) AS BIGINT)
      FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    ORDER BY op
    """,
)
def setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (ALL) set operations — duplicates preserved per SQL bag
    semantics: intersectAll keeps min(multiplicity), exceptAll subtracts
    multiplicities (vs the distinct-set forms in setop_union_intersect_except)."""
    l = load_table(spark, sf_dir, "lineitem")
    a = l.filter(F.col("l_orderkey") < 1000).select("l_returnflag")
    b = l.filter(
        (F.col("l_orderkey") >= 500) & (F.col("l_orderkey") < 1500)
    ).select("l_returnflag")
    parts = [
        ("intersect_all", a.intersectAll(b)),
        ("except_all", a.exceptAll(b)),
        ("union_all", a.unionAll(b)),
    ]
    frames = [
        df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        for op, df in parts
    ]
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.orderBy("op")


@register(
    "unpivot_event_totals_long",
    oracle="""
    WITH wide AS (
        /* COALESCE each cell: a user whose only rows of a type carry NULL
           values sums to NULL, and DuckDB's UNPIVOT silently DROPS NULL
           cells where the Spark side coalesces them to 0 (27 vs 26 rows —
           null-world fuzz, r6) */
        SELECT user_id,
               COALESCE(ROUND(SUM(CASE WHEN event_type = 'click'    THEN value ELSE 0 END), 2), 0) AS click,
               COALESCE(ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2), 0) AS purchase,
               COALESCE(ROUND(SUM(CASE WHEN event_type = 'view'     THEN value ELSE 0 END), 2), 0) AS view
        FROM events WHERE user_id < 10 GROUP BY user_id
    )
    SELECT user_id, kind, amount
    FROM wide UNPIVOT (amount FOR kind IN (click, purchase, view))
    ORDER BY user_id, kind
    """,
)
def unpivot_event_totals_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping with DataFrame.unpivot (melt) — the inverse of the
    pivot query, round-tripping the same totals."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.round(F.sum("value"), 2))
        .select(
            "user_id",
            *[F.coalesce(c, F.lit(0.0)).alias(c) for c in ("click", "purchase", "view")],
        )
    )
    return wide.unpivot(
        ["user_id"], ["click", "purchase", "view"], "kind", "amount"
    ).transform(sort_result, "user_id", "kind")


@register(
    "agg_higher_moments",
    oracle="""
    WITH mu AS (
        SELECT o_orderstatus, AVG(o_totalprice) AS mean_price
        FROM orders GROUP BY o_orderstatus
    ),
    dev AS (
        SELECT o.o_orderstatus,
               o.o_totalprice - m.mean_price AS d
        FROM orders o JOIN mu m USING (o_orderstatus)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           {skew} AS skewness_pop,
           {kurt} AS excess_kurtosis_pop
    FROM dev GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """.replace(
        # skewness/kurtosis are sign-capable near-zero stats — publish via
        # spark_round_sql (signed-zero + half-point procedure parity)
        "{skew}",
        spark_round_sql(
            "(SUM(d*d*d) / COUNT(*)) / POW(SUM(d*d) / COUNT(*), 1.5)", 4
        ),
    ).replace(
        "{kurt}",
        spark_round_sql(
            "(SUM(d*d*d*d) / COUNT(*)) / POW(SUM(d*d) / COUNT(*), 2.0) - 3.0",
            4,
        ),
    ),
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped skewness and excess kurtosis — distribution-shape audit for
    feature columns (a training pipeline flags heavy tails before
    normalizing). Computed from explicit two-pass central moments rather
    than the built-ins because Spark's ``skewness``/``kurtosis`` are
    population-convention and DuckDB's are sample-convention — the raw
    Σdᵏ formulation is convention-free and engines agree to the rounded
    digit.

    Scale shape: two aggregates over the same grouping key (means, then
    deviation powers) with a broadcast join of the |groups|-row means table
    between them — both map-side combine; the two-pass form also avoids the
    catastrophic cancellation of one-pass raw power sums at large x."""
    o = load_table(spark, sf_dir, "orders")
    mu = o.groupBy("o_orderstatus").agg(F.avg("o_totalprice").alias("mean_price"))
    d = F.col("o_totalprice") - F.col("mean_price")
    dev = o.join(F.broadcast(mu), "o_orderstatus").select(
        "o_orderstatus", d.alias("d")
    )
    n = F.count(F.lit(1))
    m2 = F.sum(F.col("d") * F.col("d")) / n
    m3 = F.sum(F.col("d") * F.col("d") * F.col("d")) / n
    m4 = F.sum(F.col("d") * F.col("d") * F.col("d") * F.col("d")) / n
    return (
        dev.groupBy("o_orderstatus")
        .agg(
            n.alias("n"),
            F.round(m3 / F.pow(m2, 1.5), 4).alias("skewness_pop"),
            F.round(m4 / F.pow(m2, 2.0) - 3.0, 4).alias("excess_kurtosis_pop"),
        )
        .transform(sort_result, "o_orderstatus")
    )


@register(
    "agg_grouping_sets_custom",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COALESCE(CAST(ship_year AS VARCHAR), 'ALL') AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice), 2) AS revenue,
           CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2
                + GROUPING(ship_year) AS BIGINT) AS grouping_id
    FROM (
        SELECT l_returnflag, l_linestatus, l_extendedprice,
               CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year
        FROM lineitem
    )
    GROUP BY GROUPING SETS (
        (l_returnflag, l_linestatus),
        (ship_year),
        ()
    )
    ORDER BY grouping_id, returnflag, linestatus, ship_year
    """,
)
def agg_grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form that rollup/cube are
    shorthands for: (returnflag, linestatus) detail, a shipmode-only slice,
    and the grand total, in ONE pass with GROUPING() disambiguating real
    NULLs from subtotal rows. Spark expands grouping sets into a single
    Expand + hash aggregate (one scan, one shuffle), exactly what you want
    instead of three queries unioned."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT /*+ REPARTITION(1) */ COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COALESCE(CAST(ship_year AS STRING), 'ALL') AS ship_year,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(l_extendedprice), 2) AS revenue,
               CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2
                    + GROUPING(ship_year) AS BIGINT) AS grouping_id
        FROM (
            SELECT l_returnflag, l_linestatus, l_extendedprice,
                   CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year
            FROM _gs_lineitem
        )
        GROUP BY GROUPING SETS (
            (l_returnflag, l_linestatus),
            (ship_year),
            ()
        )
        ORDER BY grouping_id, returnflag, linestatus, ship_year
        """
    )


@register(
    "orders_abc_pareto",
    oracle="""
    WITH cust AS (
        SELECT o_custkey, SUM(o_totalprice) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, revenue,
               SUM(revenue) OVER (
                   ORDER BY revenue DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) / SUM(revenue) OVER () AS cum_share
        FROM cust
    ),
    classed AS (
        SELECT o_custkey, revenue,
               CASE WHEN cum_share <= 0.5 THEN 'A'
                    WHEN cum_share <= 0.8 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(revenue), 2) AS revenue,
           ROUND(SUM(revenue) / (SELECT SUM(revenue) FROM cust), 6)
               AS revenue_share
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of customers by revenue: A = customers
    covering the first 50% of cumulative revenue (ordered by spend), B to
    80%, C the tail — the 80/20 concentration view purchasing and data-mix
    planning both use (which sources/customers dominate the pile).

    The cumulative-share window orders ALL customers in one unpartitioned
    sort — fine at |customers| rows after the per-key aggregate; at 1e9+
    keys swap the boundary detection to approx quantiles of the revenue
    distribution, same downstream plan (the swap point is the documented
    pattern from ``features_quantile_normalize``)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
    cum = Window.orderBy(F.col("revenue").desc(), "o_custkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = Window.partitionBy()
    classed = cust.select(
        "o_custkey",
        "revenue",
        (F.sum("revenue").over(cum) / F.sum("revenue").over(total)).alias(
            "cum_share"
        ),
    ).select(
        "o_custkey",
        "revenue",
        F.when(F.col("cum_share") <= 0.5, "A")
        .when(F.col("cum_share") <= 0.8, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    tot = cust.agg(F.sum("revenue").alias("t"))
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
            F.sum("revenue").alias("_r"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "n_customers",
            "revenue",
            F.round(F.col("_r") / F.col("t"), 6).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "agg_decimal_exact_money",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18, 2))
                         AS DECIMAL(38, 2))) AS VARCHAR) AS exact_sum,
           ROUND(SUM(l_extendedprice), 2) AS double_sum
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_decimal_exact_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal money aggregation: prices cast to DECIMAL(18,2) and
    summed in DECIMAL(38,2) — associative integer arithmetic, so the total
    is bit-identical regardless of partitioning or merge order. The double
    sum rides along for contrast: at this scale they agree to 2 dp, but
    double summation drifts with row count and reduction order (1e12 rows
    of ~1e5 values ⇒ absolute error up to ~1e2 — the financial-ledger
    reason money columns are DECIMAL at 100 TB, not DOUBLE). Emitted as a
    string so the driver hash sees the exact digits."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(dec.cast("decimal(38,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("exact_sum"),
            F.round(F.sum("l_extendedprice"), 2).alias("double_sum"),
        )
        .transform(sort_result, "l_returnflag")
    )


# ---------------------------------------------------------------------------
# Exact weighted percentiles
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_percentile",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS flag, l_extendedprice AS x, l_quantity AS wt
        FROM lineitem
    ),
    cum AS (
        SELECT flag, x, wt,
               SUM(wt) OVER (PARTITION BY flag ORDER BY x, wt
                             ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY flag) AS tw
        FROM w
    ),
    p AS (
        SELECT flag,
               MIN(CASE WHEN cw >= 0.5 * tw THEN x END) AS p50_weighted,
               MIN(CASE WHEN cw >= 0.9 * tw THEN x END) AS p90_weighted
        FROM cum GROUP BY flag
    )
    SELECT flag, ROUND(p50_weighted, 2) AS p50_weighted,
           ROUND(p90_weighted, 2) AS p90_weighted
    FROM p ORDER BY flag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted percentiles (quantity-weighted price p50/p90 per
    return flag) by the cumulative-weight method: sort within group, run a
    weight prefix sum, and take the first value whose cumulative weight
    crosses q x total — the lower-weighted-quantile definition. Neither
    engine has a weighted-percentile builtin (Spark's percentile() takes a
    frequency integer, not a fractional weight column), so this is the
    portable primitive every revenue-weighted SLA metric builds on.
    Determinism under ties: rows sharing (x, wt) permute freely in the
    ROWS frame, but the crossing VALUE is invariant — any order within an
    equal-x run crosses the threshold at the same x.

    Plan: one keyed sort-window (prefix sums + group totals share it),
    one conditional-min aggregate. At extreme group cardinality swap the
    global sort for approx_percentile with a weight-expanded sketch; the
    output contract stays."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    w = l.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").alias("wt"),
    )
    win = (
        Window.partitionBy("flag")
        .orderBy("x", "wt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("flag")
    cum = w.select(
        "flag",
        "x",
        F.sum("wt").over(win).alias("cw"),
        F.sum("wt").over(tot).alias("tw"),
    )
    return (
        cum.groupBy("flag")
        .agg(
            F.min(
                F.when(F.col("cw") >= 0.5 * F.col("tw"), F.col("x"))
            ).alias("p50w"),
            F.min(
                F.when(F.col("cw") >= 0.9 * F.col("tw"), F.col("x"))
            ).alias("p90w"),
        )
        .select(
            "flag",
            F.round("p50w", 2).alias("p50_weighted"),
            F.round("p90w", 2).alias("p90_weighted"),
        )
        .transform(sort_result, "flag")
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (tie-averaged ranks)
# ---------------------------------------------------------------------------


@register(
    "stats_spearman_rank_corr",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag AS flag,
               rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                   + (COUNT(*) OVER (
                          PARTITION BY l_returnflag, l_quantity) - 1) / 2.0
                   AS rq,
               rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                   + (COUNT(*) OVER (
                          PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0
                   AS rp,
               rank() OVER (PARTITION BY l_returnflag ORDER BY l_discount)
                   + (COUNT(*) OVER (
                          PARTITION BY l_returnflag, l_discount) - 1) / 2.0
                   AS rd
        FROM lineitem
    )
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {c1} AS spearman_qty_price,
           {c2} AS spearman_qty_discount
    FROM ranked GROUP BY flag ORDER BY flag
    """.replace(
        # correlations are sign-capable near zero: spark_round_sql kills
        # the DuckDB ROUND(-eps) = -0.0 signed-zero divergence
        "{c1}", spark_round_sql("corr(rq, rp)", 4)
    ).replace("{c2}", spark_round_sql("corr(rq, rd)", 4)),
)
def stats_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per return flag — the robust,
    outlier-immune, monotone-relationship complement of
    `agg_corr_quantity_price`'s Pearson r (which a single fat-tailed
    price can dominate). Tie handling is the textbook AVERAGE rank,
    computed without a second pass: min-rank from rank() plus
    (tie_count − 1)/2 from a count window over the tie group — two
    windows sharing one partition key, no dense_rank/join-back. Near-zero
    coefficients on the synthetic tables are the expected reading (price
    is drawn independently of quantity) — the A/A calibration discipline
    again.

    Plan: the three rank windows all partition on the SAME key (one
    exchange, three sorts), then Pearson on ranks is one mergeable
    moment aggregate (corr's partials). At a trillion rows swap exact
    ranks for approx-quantile bucket mid-ranks; the contract stays."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")

    def avg_rank(col: str) -> F.Column:
        # tie count = COUNT over a RANGE(0,0) frame on the SAME
        # (partitionBy flag, orderBy col) window the rank uses — identical
        # value to COUNT over partitionBy(flag, col), but it shares the
        # rank's exchange AND sort instead of adding a second window
        # partitioning per column (guide §2.4: operations keyed the same
        # way share one exchange; plan: 6 windows / 4 sort keys → 3)
        w = Window.partitionBy("l_returnflag").orderBy(col)
        return (
            F.rank().over(w)
            + (F.count(F.lit(1)).over(w.rangeBetween(0, 0)) - 1) / 2.0
        )

    ranked = l.select(
        F.col("l_returnflag").alias("flag"),
        avg_rank("l_quantity").alias("rq"),
        avg_rank("l_extendedprice").alias("rp"),
        avg_rank("l_discount").alias("rd"),
    )
    return (
        ranked.groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.corr("rq", "rp"), 4).alias("spearman_qty_price"),
            F.round(F.corr("rq", "rd"), 4).alias("spearman_qty_discount"),
        )
        .transform(sort_result, "flag")
    )


# ---------------------------------------------------------------------------
# Robust location comparison: mean vs trimmed mean vs median
# ---------------------------------------------------------------------------


@register(
    "agg_trimmed_mean_comparison",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               percent_rank() OVER (
                   PARTITION BY event_type ORDER BY value) AS pr
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           {mean_all} AS mean_all,
           {trimmed} AS trimmed_mean_10,
           ROUND(quantile_cont(value, 0.5), 4) AS median,
           {mean_all} - {trimmed} AS tail_pull
    FROM ranked GROUP BY event_type ORDER BY event_type
    """.replace("{mean_all}", exact_round_avg_int_sql("value", 4, 2)).replace(
        "{trimmed}",
        exact_round_avg_int_sql("CASE WHEN pr BETWEEN 0.1 AND 0.9 THEN value END", 4, 2),
    ),
)
def agg_trimmed_mean_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust-location triptych per event type: mean, 10% two-sided
    trimmed mean (drop each tail decile via percent_rank — identical
    (rank−1)/(n−1) semantics on both engines, so the trim boundary is
    bit-identical), and exact median — plus 'tail_pull', how far the tail
    drags the mean above the trimmed center (~8.5 here: a fifth of the
    mean is tail artifact, which is what `stats_hill_tail_index` predicts
    for alpha ~ 2.9). The estimator-choice table a metrics team consults
    before picking what a dashboard reports; `events_winsorized_stats`
    clips, this DROPS — the two standard robustifications side by side.

    Plan: one rank window per type shares the sort with nothing else
    needed; all three locations come from the same grouped pass."""
    from pyspark.sql import Window

    # location estimators are over OBSERVED values: percent_rank over a
    # NULL-carrying column shifts every rank by the null count on Spark
    # (nulls first) but not DuckDB (nulls last), and the means/median
    # skip NULLs anyway (NULL-world fuzz, r6)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    ranked = e.select(
        "event_type",
        "value",
        F.percent_rank()
        .over(Window.partitionBy("event_type").orderBy("value"))
        .alias("pr"),
    )
    trimmed = F.avg(
        F.when(F.col("pr").between(0.1, 0.9), F.col("value"))
    )
    # Both means use the exact 4-dp average (functions/exact.py: a mean of
    # 2-dp values can sit exactly on a 4-dp half-way point); tail_pull is
    # the difference of the two PUBLISHED rounded means — self-consistent
    # and a subtraction of bit-identical doubles on every engine.
    mean_all = exact_round_avg_int(F.col("value"), 4, 2)
    trimmed_x = exact_round_avg_int(
        F.when(F.col("pr").between(0.1, 0.9), F.col("value")), 4, 2
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            mean_all.alias("mean_all"),
            trimmed_x.alias("trimmed_mean_10"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("median"),
            (mean_all - trimmed_x).alias("tail_pull"),
        )
        .transform(sort_result, "event_type")
    )
