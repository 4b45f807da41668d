"""Named query registry — the contract surface for the driver harness.

Every implemented operator from SURVEY.md §2 registers here as
  name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
and ``__spark_entry__.py`` re-exports the registry. Oracle SQL is ANSI-ish
DuckDB SQL over the same parquet tables; output column names/types are
aliased identically on both sides (the driver hashes values after sorting
columns by name). Float outputs are rounded (typically 6 dp) on BOTH sides so
cross-engine double arithmetic (±1 ulp) can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.io import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    if oracle is not None and "--" in oracle:
        # The driver flattens oracle SQL to one line, so a `--` line comment
        # would swallow the rest of the statement (DuckDB parse error). Use
        # /* */ block comments instead. This bit round 2
        # (text_pii_redaction) — rejected structurally now.
        raise ValueError(
            f"oracle for {name!r} contains '--' line comment; "
            "use /* */ (oracle SQL is whitespace-flattened)"
        )

    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = " ".join(oracle.split())
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship: cosine top-k KNN (reference's canonical query, SURVEY.md §2.11)
# ---------------------------------------------------------------------------

FLAGSHIP_K = 10
FLAGSHIP_QUERY_VEC_ID = 0


@register(
    "flagship_knn_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qvec
        FROM embeddings WHERE vec_id = {FLAGSHIP_QUERY_VEC_ID}
    ),
    scored AS (
        SELECT vec_id,
               1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            (SELECT qvec FROM q)) AS _dist
        FROM embeddings
    ),
    topk AS (
        SELECT vec_id, _dist FROM scored
        WHERE _dist IS NOT NULL
        ORDER BY _dist ASC, vec_id ASC LIMIT {FLAGSHIP_K}
    )
    SELECT CAST(row_number() OVER (ORDER BY t._dist ASC, t.vec_id ASC) AS BIGINT) AS rank,
           d.doc_id AS doc_id,
           d.text AS text,
           ROUND(t._dist, 6) AS distance
    FROM topk t JOIN documents d ON t.vec_id = d.doc_id
    ORDER BY rank
    """,
)
def flagship_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference query verbatim in Spark terms
    (``/root/reference/model/search/vector.py:173-188`` + ``app.py:12-14``):
    cosine distance of every embedding to a query vector, top-10, joined back
    to documents, ranked. Query vector = stored embedding of vec_id 0 (frozen
    input — no model in the loop, SURVEY.md §5.2.2). The query row is
    broadcast-joined rather than collected to the driver: one Spark job, no
    driver round-trip, and the plan works unchanged when the query vector
    comes from another table.

    Degenerate contract (redraw-fuzz, SCALE.md §Round 5): a MISSING anchor
    id returns an EMPTY result on both engines — Spark's inner broadcast
    join with the empty query frame is naturally empty; the oracle filters
    the NULL distances its scalar subquery would otherwise rank."""
    from cobalt_duckdb_spark.operators.knn import knn_topk_broadcast_query

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    query = emb.filter(F.col("vec_id") == FLAGSHIP_QUERY_VEC_ID).select(
        F.col("embedding").alias("query_vec")
    )
    return knn_topk_broadcast_query(emb, docs, query, k=FLAGSHIP_K)


def _load_all_modules() -> None:
    """Import every query module so its @register calls run."""
    from cobalt_duckdb_spark.queries import (  # noqa: F401
        relational,
        windows,
        joins,
        events,
        text,
        dedup,
        similarity,
        subqueries,
        multimodal,
        inference,
        advanced,
        tpch_extra,
        timeseries,
        pipeline,
        graph_analytics,
        selection,
    )


_load_all_modules()


# The driver checks the first 50 registry entries each round: this window
# first, then every other name in registration order.
# Pasted from `python tools/next_window.py --suggest`.
_DRIVER_PRIORITY = (
    "events_markov_absorption",  # src+helpers (r4)
    "events_markov_removal_attribution",  # src+helpers (r4)
    "graph_kcore_peeling",  # src+helpers (r4)
    "graph_lpa_communities",  # src+helpers (r4)
    "pipeline_corpus_curation",  # src+helpers (r4)
    "pipeline_incremental_admission",  # src+helpers (r4)
    "sql_api_recursive_reachability",  # src+helpers (r4)
    "stats_permutation_test_hashed",  # src+helpers (r4)
    "graph_hits_hubs_authorities",  # src+helpers (r5)
    "pipeline_token_budget_allocator",  # src+helpers (r5)
    "sample_dsir_importance",  # src+helpers (r5)
    "simsearch_recall_nprobe_curve",  # src+helpers (r5)
    "text_winnowing_fingerprints",  # src+helpers (r5)
    "text_umass_keyword_coherence",  # src+helpers (r6)
    "text_watermark_greenlist_detect",  # src+helpers (r6)
    "cluster_purity_nmi_vs_labels",  # src+helpers (r7)
    "graph_link_prediction_jaccard",  # src+helpers (r7)
    "orders_item_cf_similarity",  # src+helpers (r7)
    "train_triplet_margin_audit",  # src+helpers (r7)
    "cluster_silhouette_audit",  # src+helpers (r8)
    "embedding_isotropy_audit",  # src+helpers (r8)
    "embedding_knn_hubness_audit",  # src+helpers (r8)
    "embedding_pca_power_iteration",  # src+helpers (r8)
    "events_markov_stationary",  # src+helpers (r8)
    "stats_poisson_bootstrap_ci",  # src+helpers (r8)
    "stats_spearman_rank_corr",  # src+helpers (r8)
    "dedup_incremental_new_batch",  # helpers (r2)
    "dedup_keep_best_resolution",  # helpers (r2)
    "dedup_shared_span_report",  # helpers (r2)
    "dedup_simhash_pairs",  # helpers (r2)
    "embedding_int8_quantization_audit",  # helpers (r2)
    "events_assoc_rules_types",  # helpers (r2)
    "events_latest_user_state",  # helpers (r2)
    "events_scd2_user_state",  # helpers (r2)
    "events_transition_matrix",  # helpers (r2)
    "events_user_journey_prefix",  # helpers (r2)
    "events_value_zscore_outliers",  # helpers (r2)
    "events_windowed_topk_types",  # helpers (r2)
    "hybrid_rrf_topk",  # helpers (r2)
    "infer_embed_index_search_e2e",  # helpers (r2)
    "infer_tokenize_stats",  # helpers (r2)
    "join_asof_nearest_click_to_error",  # helpers (r2)
    "join_asof_next_click_after_error",  # helpers (r2)
    "join_interval_error_click_left",  # helpers (r2)
    "multimodal_binary_stats",  # helpers (r2)
    "scalar_null_handling",  # helpers (r2)
    "simsearch_hard_negatives",  # helpers (r2)
    "simsearch_ivf_topk",  # helpers (r2)
    "simsearch_ivfpq_adc_topk",  # helpers (r2)
    "simsearch_pq_adc_topk",  # helpers (r2)
)


def _rotate_registry() -> None:
    ordered = {n: QUERIES[n] for n in (*_DRIVER_PRIORITY, *QUERIES) if n in QUERIES}
    QUERIES.clear()
    QUERIES.update(ordered)


_rotate_registry()


def queries() -> dict[str, SparkQuery]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
