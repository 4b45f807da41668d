"""Physical-plan assertions: a de-optimized plan is a failed test, not a
surprise at 100 TB (SURVEY.md §4)."""

from pyspark.sql import functions as F

from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_only,
    assert_take_ordered,
)
from cobalt_duckdb_spark.queries import QUERIES


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    q = o.filter(F.col("o_custkey") == 42).select("o_orderkey", "o_totalprice")
    assert_pushed_filters(q, "o_custkey")


def test_column_pruning_projection_only(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    q = l.select("l_orderkey", "l_quantity")
    assert_read_schema_only(q, "lineitem", "l_orderkey", "l_quantity")


def test_flagship_scan_prunes_to_two_columns(spark, sf_dir):
    # the scoring scan must read only (vec_id, embedding) — the reference's
    # manual projection (SURVEY.md §4.1) is automatic here, but verify it
    from cobalt_duckdb_spark.functions.vector import cosine_distance
    from cobalt_duckdb_spark.operators.knn import query_vector_of

    emb = load_table(spark, sf_dir, "embeddings")
    qv = query_vector_of(emb, 0)
    scored = emb.select(
        "vec_id",
        cosine_distance(
            F.col("embedding"), F.array(*[F.lit(float(x)) for x in qv])
        ).alias("d"),
    )
    assert_read_schema_only(scored, "embeddings", "vec_id", "embedding")


def test_q3_broadcasts_filtered_customer(spark, sf_dir):
    q = QUERIES["q3_shipping_priority"](spark, sf_dir)
    assert_broadcast_join(q, expected=1)
    assert_no_cartesian(q)


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    q = QUERIES["topk_orders_by_price"](spark, sf_dir)
    assert_take_ordered(q)


def test_q5_no_cartesian_and_broadcasts_dims(spark, sf_dir):
    q = QUERIES["q5_local_supplier_volume"](spark, sf_dir)
    assert_broadcast_join(q, expected=2)
    assert_no_cartesian(q)


def test_q17_broadcasts_part_keys_and_avgs(spark, sf_dir):
    # correlated-AVG decorrelation: part keys AND the per-part cutoffs must
    # both come in as broadcasts — lineitem is never shuffled whole
    q = QUERIES["q17_small_quantity_revenue"](spark, sf_dir)
    assert_broadcast_join(q, expected=3)
    assert_no_cartesian(q)


def test_zscore_outliers_broadcasts_stats(spark, sf_dir):
    # 5-row per-type stats broadcast back to the scan; the outlier filter is
    # a map over events, not a window over the full table
    q = QUERIES["events_value_zscore_outliers"](spark, sf_dir)
    assert_broadcast_join(q, expected=1)
    assert_no_cartesian(q)


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    q = QUERIES["text_bm25_topk"](spark, sf_dir)
    assert_take_ordered(q)
    assert_no_cartesian(q)


def test_one_row_matrix_queries_build_lazily(spark, sf_dir):
    """The Markov and event-graph queries iterate over a one-row matrix
    inside their own plans (functions/matrix.py): building one starts no
    Spark job — no eager checkpoint per squaring, doubling or power step,
    no thread pool."""
    sc = spark.sparkContext
    # parquet schema inference is one job on the first read of a table in
    # a session (io.load_table caches the frame): take it outside the count
    load_table(spark, sf_dir, "events")
    for name in (
        "events_markov_stationary",
        "events_markov_entropy_rate",
        "events_markov_absorption",
        "events_markov_removal_attribution",
        "graph_pagerank_event_flow",
        "graph_personalized_pagerank_error",
        "graph_hits_hubs_authorities",
        "graph_scc_mutual_reachability",
    ):
        group = f"build_{name}"
        sc.setJobGroup(group, "build only")
        try:
            QUERIES[name](spark, sf_dir)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(jobs) == [], (name, len(jobs))


# Registry-wide ceilings: ratchets that may only fall. Redundant scans are
# a table read again in a plan that already reads it; a new checkpoint
# must not hide a scan by turning it into a Scan ExistingRDD leaf. A range
# exchange is a global sort whose partitioner samples its child in a job
# of its own; the 2 left are sql_api_lateral_topk_per_group's, which runs
# the oracle's own SQL text. A result sorted in one partition
# (ordering.sort_result) swaps a range exchange for a single-partition one;
# a redundant repartition(1) shows up as a rise in the shuffle total.
MAX_REDUNDANT_PARQUET_SCANS = 160
MAX_EXISTING_RDD_SCANS = 240
MAX_RANGE_EXCHANGES = 2
MAX_SHUFFLE_EXCHANGES = 1012


def test_no_plan_smells_anywhere(spark, sf_dir):
    """Registry-wide physical-plan audit: no CartesianProduct, no
    row-at-a-time Python (BatchEvalPython) in ANY registered query's plan,
    and the redundant-scan, materialized-leaf, range-exchange and
    shuffle-exchange totals under their ceilings.
    A de-optimized plan is a failed test, not a surprise at 100 TB."""
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_audit import audit

    results = audit(spark, sf_dir)
    bad = {k: a.smells for k, a in results.items() if a.smells}
    assert bad == {}
    redundant = sum(a.redundant_scans for a in results.values())
    rdd = sum(a.rdd_scans for a in results.values())
    ranges = {k: a.range_exchanges for k, a in results.items() if a.range_exchanges}
    shuffles = sum(a.exchanges for a in results.values())
    assert redundant <= MAX_REDUNDANT_PARQUET_SCANS, redundant
    assert rdd <= MAX_EXISTING_RDD_SCANS, rdd
    assert sum(ranges.values()) <= MAX_RANGE_EXCHANGES, ranges
    assert shuffles <= MAX_SHUFFLE_EXCHANGES, shuffles


def test_no_python_in_library_operator_plans(spark, sf_dir):
    """Library operators reachable only from pytest (not the registry) get
    the same BatchEvalPython/CartesianProduct audit as registry queries —
    round-3 advice after mllib_ann's sparse-vector builder shipped as a
    row-at-a-time @udf that the registry-only audit never saw."""
    from cobalt_duckdb_spark.functions.vector import l2_normalize
    from cobalt_duckdb_spark.operators.mllib_ann import (
        brp_near_dup_pairs,
        minhash_lsh_token_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", l2_normalize("embedding").alias("embedding")
    )
    docs = load_table(spark, sf_dir, "documents")
    for df in (
        brp_near_dup_pairs(emb, 1.1),
        minhash_lsh_token_pairs(docs, max_jaccard_distance=0.4),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
