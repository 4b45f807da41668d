"""Approximate similarity search at scale (north star: ANN over embeddings).

Brute-force exact top-k lives in operators/knn.py. This module adds the
scale path: IVF (inverted-file) partitioning with deterministic centroids —
the first C stored vectors serve as the codebook ("training" is a stable,
reproducible choice rather than k-means iterations, so the DuckDB oracle can
replay the identical algorithm; swap in MLlib KMeans offline for production
codebooks without changing the query shape).

Physical plan: assignment is a broadcast join (codebook ≪ data) + per-row
argmin — a map-only stage over the big table; the search probes only
``nprobe`` cells, cutting the scan by ~C/nprobe. At 100 TB the assignment is
computed once at ingest and the table is partitioned by cell id, turning
every query into partition-pruned reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.vector import cosine_distance
from cobalt_duckdb_spark.ordering import sort_result


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (cosine distance, ties →
    lowest centroid id).

    Genuinely map-only: the codebook is packed into ONE broadcast row of
    (cid, cvec) structs and the argmin is ``array_min`` over a ``transform``
    to (distance, cid) structs — lexicographic struct ordering IS
    "lowest distance, tie → lowest cid". No per-vector window, so nothing
    explodes the big table ×|centroids| through a shuffle: the earlier
    crossJoin+row_number formulation pushed N·C rows into an exchange; this
    one reads each vector once and emits one cell id."""
    packed = centroids.groupBy().agg(
        F.collect_list(
            F.struct(F.col("centroid_id").alias("cid"), F.col("centroid_vec").alias("cvec"))
        ).alias("cents")
    )
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                cosine_distance(F.col(vec_col), c["cvec"]).alias("d"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        embeddings.crossJoin(F.broadcast(packed))
        .select(F.col(id_col), F.col(vec_col), best["cid"].alias("cell"))
    )


def make_centroids(
    embeddings: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic codebook: the ``num_centroids`` lowest-id vectors.

    Checkpointed (lazy, single partition): the ≤num_centroids-row codebook
    is consumed by both the cell-assignment pass and every query-side
    probe ranking — un-materialized, each consumer re-ran the TakeOrdered
    pass over the full embeddings table (guide §1.2, r10)."""
    return (
        embeddings.orderBy(id_col)
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
        )
        .coalesce(1)
        .localCheckpoint(eager=False)
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest cells
    and ranks only vectors assigned there. Output matches knn_topk_batch's
    shape; recall < 1 by construction but fully deterministic."""
    centroids = make_centroids(embeddings, num_centroids, id_col)
    assigned = ivf_assign(embeddings, centroids, id_col)

    qscored = queries.crossJoin(F.broadcast(centroids)).select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.col("centroid_id"),
        cosine_distance(F.col(query_vec_col), F.col("centroid_vec")).alias("_cd"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.asc("_cd"), F.asc("centroid_id"))
    probes = (
        qscored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, query_vec_col, F.col("centroid_id").alias("cell"))
    )

    scored = assigned.join(F.broadcast(probes), "cell").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_distance(F.col("embedding"), F.col(query_vec_col)).alias("_dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("_dist"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, F.round("_dist", round_to).alias("distance"))
        .transform(sort_result, query_id_col, "rank")
    )
