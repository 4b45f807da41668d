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
(``vector.py:171``); ``knn_topk_batch`` is the set-oriented rewrite — one plan
for all queries via broadcast of the (small) query set and a per-query
window top-k, 4 Spark jobs at collect (8 queries, k = 5, sf0.1, 4 cores).

Serving: ``knn_topk_statement`` is the one-request kernel of ``client`` and
``bench.py``, and it is SQL text, as the reference's request is
(``vector.py:173-180``). The store is unit-normalized at ingest and the query
on the driver, so each row costs one dot-product fold against a query
literal inlined into the statement; the statement selects the display
columns from the same cached frame, so a request is one plan without a
join. Its rank is the row's position in the top-k, as the reference takes
it from the pandas row order (``vector.py:183-188``): the plan is
``TakeOrderedAndProject`` under one ``Project``, with no rank ``Window``
and no outer ``Sort``, one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.vector import cosine_distance
from cobalt_duckdb_spark.ordering import sort_result


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
    (so ``knn_topk_statement`` can score it with ``1 − dot``, one fold per
    row), persist in memory-and-disk, and register as a temp view for the
    SQL surface. Returns the persisted frame; caller owns ``unpersist()``."""
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


def _quote(name: str) -> str:
    """``name`` as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _double_array_sql(q) -> str:
    """A float64 vector as a SQL ``ARRAY<DOUBLE>`` literal. ``repr`` is the
    shortest decimal that reads back to the same double, so the literal is
    bit-exact (−0.0 and subnormals included)."""
    return "array(" + ", ".join(repr(float(x)) + "D" for x in q) + ")"


def knn_topk_statement(
    view: str,
    vec,
    k: int,
    cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """One SQL statement for the top-k of a unit-normalized store against
    one query vector: ``rank`` (0-based bigint), ``score`` (cosine distance,
    ``1 − dot``), then ``cols`` of ``view``, the k nearest by (score, id),
    in rank order. Rows whose ``vec_col`` is NULL are never returned.

    ``rank`` is ``monotonically_increasing_id()`` over the
    ``ORDER BY score, id LIMIT k`` subquery, which plans as a non-root
    ``TakeOrderedAndProject`` (for every k below
    ``spark.sql.execution.topKSortFallbackThreshold``, 2³¹ − 16 by
    default). That operator always emits its k rows as ONE
    partition, index 0, in (score, id) order: a child of several partitions
    is merged through a shuffle to a single partition first. The generated
    id of partition 0's i-th row is i, so it is the row's 0-based rank,
    with no ``row_number()`` window and no outer ``ORDER BY``. An outer
    ``ORDER BY rank`` added "to be safe" gives about half of that saving
    back (adaptive execution plans it as a step of its own); the invariant
    is pinned by ``tests/test_flagship.py`` on stores of one and of three
    partitions.

    ``vec`` is normalized here on the driver, in float64, and inlined as
    one array literal, so a request costs no DataFrame analysis before
    ``spark.sql``. A zero-norm query has no direction: its literal is NULL,
    every score is NULL (as ``cosine_distance`` gives) and the k lowest ids
    win."""
    import numpy as np

    q = np.asarray(vec, dtype=np.float64)
    norm = np.linalg.norm(q)
    query = _double_array_sql(q / norm) if norm else "CAST(NULL AS ARRAY<DOUBLE>)"
    i, e = _quote(id_col), _quote(vec_col)
    shown = "".join(", " + _quote(c) for c in cols)
    score = (
        f"1.0D - aggregate(zip_with({e}, {query}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )
    return (
        f"SELECT monotonically_increasing_id() AS rank, score{shown} FROM"
        f" (SELECT {i}, {score} AS score{shown} FROM {_quote(view)}"
        f" WHERE {e} IS NOT NULL ORDER BY score, {i} LIMIT {int(k)})"
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
    """Set-oriented batch KNN: all queries in ONE plan, 4 Spark jobs at
    collect (8 queries, k = 5, sf0.1, 4 cores): the query-set broadcast,
    the shuffle into the rank window, the shuffle into one partition and
    the final sort (``ordering.sort_result``, no range-sampling job).

    Broadcast the query set (queries are user-issued — small) against the
    embeddings scan, score each (query, doc) pair, then per-query top-k with a
    rank window. At scale this is a map-only stage over the big table plus a
    shuffle of only ``n_queries × N_partition_survivors`` rows — the loop the
    reference runs (``vector.py:171``) would be n_queries full scans. The
    ``n_queries × k`` result rows are sorted in one partition.
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
        .transform(sort_result, query_id_col, "rank")
    )
