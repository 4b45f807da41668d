"""Top-k vector search (KNN) — the reference's flagship capability.

Reference semantics (``/root/reference/model/search/vector.py:173-188``):
score every stored embedding against a query vector with cosine distance,
``ORDER BY distance LIMIT k`` (DuckDB fuses this into a top-k heap), then
join the winners back to the document corpus and attach a rank.

Spark-first translation:
- scoring is a Catalyst expression over the embeddings scan (column-pruned:
  only ``vec_id`` + ``embedding`` are read);
- ``orderBy().limit(k)`` compiles to ``TakeOrderedAndProject`` — per-partition
  top-k heaps + a k-row driver merge, no global sort, no shuffle of the data.
  This is the plan that survives 100 TB: each of N partitions returns ≤ k rows.
- the k-row result is **broadcast** for the join back to documents (the
  reference's positional ``iloc`` gather, ``vector.py:183``, replaced by an
  explicit key join — Spark has no stable row position);
- rank is ``row_number`` ordered by (distance, id): ties are pinned by key,
  unlike the reference's engine-accidental tie order (SURVEY.md §5.2.4).

Batch queries: the reference loops one SQL statement per query
(``vector.py:171``); ``knn_topk_batch`` is the set-oriented rewrite — one job
for all queries via broadcast of the (small) query set and a per-query
window top-k.

Serving: ``knn_topk_unit`` is the one-request kernel of ``client`` and
``bench.py``. The store is unit-normalized at ingest and the query on the
driver, so each row costs one dot-product fold against a query literal; the
distance Column (``unit_cosine_distance``) names columns only and is built
once per caller, so a request adds one literal to the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.vector import cosine_distance, dot_product

_QUERY_COL = "_q"


def knn_topk_broadcast_query(
    embeddings: DataFrame,
    documents: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    query_vec_col: str = "query_vec",
    round_to: int | None = 6,
) -> DataFrame:
    """Flagship query: cosine top-k over ``embeddings`` joined to
    ``documents``, with the query vector supplied as a 1-row DataFrame and
    broadcast into the scoring scan — one job end-to-end, no driver
    round-trip (the reference inlines the vector as a SQL literal,
    ``vector.py:176``; a broadcast join is the Spark-native equivalent and
    composes when query vectors live in a table). Returns (rank, doc_id,
    text, distance) ordered by rank; distance rounded for cross-engine
    comparability."""
    q = F.broadcast(query.select(F.col(query_vec_col)))
    scored = embeddings.crossJoin(q).select(
        F.col(id_col),
        cosine_distance(F.col("embedding"), F.col(query_vec_col)).alias("_dist"),
    )
    topk = scored.orderBy(F.asc("_dist"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.asc("_dist"), F.asc(id_col))
    dist = F.round("_dist", round_to) if round_to is not None else F.col("_dist")
    return (
        F.broadcast(topk)
        .join(documents, topk[id_col] == documents[doc_id_col], "inner")
        .select(
            F.row_number().over(w).cast("bigint").alias("rank"),
            F.col(doc_id_col),
            F.col("text"),
            dist.alias("distance"),
        )
        .orderBy("rank")
    )


def build_vector_store(
    embeddings: DataFrame,
    view_name: str = "vector_store",
    normalize: bool = True,
) -> DataFrame:
    """The reference's index build (``from_dataframe`` → register,
    ``vector.py:97-135``) Spark-style: optionally L2-normalize at ingest
    (so ``knn_topk_unit`` can score it with ``1 − dot``, one fold per row),
    persist in memory-and-disk, and register as a temp view for the SQL
    surface. Returns the persisted frame; caller owns ``unpersist()``."""
    from pyspark import StorageLevel

    from cobalt_duckdb_spark.functions.vector import l2_normalize

    store = embeddings
    if normalize:
        store = embeddings.select(
            "vec_id", l2_normalize(F.col("embedding")).alias("embedding")
        ).filter(F.col("embedding").isNotNull())
    store = store.persist(StorageLevel.MEMORY_AND_DISK)
    store.createOrReplaceTempView(view_name)
    return store


def unit_cosine_distance() -> Column:
    """Cosine distance of a unit-normalized ``embedding`` to the unit query
    that ``knn_topk_unit`` adds as column ``_QUERY_COL``: ``1 − dot``. It
    refers to columns by name only, so build it once and pass it to every
    request; its lambdas then cost no py4j round trips per request."""
    return F.lit(1.0) - dot_product("embedding", _QUERY_COL)


def knn_topk_unit(store: DataFrame, distance: Column, vec, k: int) -> DataFrame:
    """Top-k of a unit-normalized ``store`` (``vec_id``, ``embedding``)
    against one query vector: (``vec_id``, ``distance``), the k nearest by
    (distance, id), planned as ``TakeOrderedAndProject`` over the store scan.

    ``vec`` is normalized here on the driver, in float64, and enters the
    plan as one array literal; ``distance`` is ``unit_cosine_distance()``.
    A zero-norm query has no direction: its literal is NULL, every distance
    is NULL (as ``cosine_distance`` gives) and the k lowest ids win."""
    import numpy as np

    q = np.asarray(vec, dtype=np.float64)
    norm = np.linalg.norm(q)
    query = F.lit(q / norm) if norm else F.lit(None).cast("array<double>")
    return (
        store.withColumn(_QUERY_COL, query)
        .select("vec_id", distance.alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def query_vector_of(embeddings: DataFrame, vec_id: int) -> list[float]:
    """Fetch one stored embedding to serve as the query vector (deterministic
    stand-in for the reference's model inference, which needs GPU weights not
    present here; cf. SURVEY.md §5.2.2 'freeze inputs')."""
    row = embeddings.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise KeyError(f"vec_id {vec_id} not found")
    return [float(x) for x in row[0]]


def knn_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int | None = 6,
) -> DataFrame:
    """Set-oriented batch KNN: all queries in ONE job.

    Broadcast the query set (queries are user-issued — small) against the
    embeddings scan, score each (query, doc) pair, then per-query top-k with a
    rank window. At scale this is a map-only stage over the big table plus a
    shuffle of only ``n_queries × N_partition_survivors`` rows — the loop the
    reference runs (``vector.py:171``) would be n_queries full scans.
    """
    scored = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_distance(F.col("embedding"), F.col(query_vec_col)).alias("_dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("_dist"), F.asc(id_col))
    dist = F.round("_dist", round_to) if round_to is not None else F.col("_dist")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, dist.alias("distance"))
        .orderBy(query_id_col, "rank")
    )
