"""Drop-in search client — the reference's user-facing API
(`RuriDuckDBSearchClient`, /root/reference/model/search/vector.py:81-190)
re-expressed Spark-first. A user of the reference app switches by replacing

    client = RuriDuckDBSearchClient.from_dataframe(df, "content")
    results = client.search_top_n("query text", n=10)

with the same two calls against ``SparkSearchClient`` (input is a Spark
DataFrame; each result is a Spark DataFrame — call ``.toPandas()`` at the
presentation boundary, which is where the reference's Gradio app sits).

Parity, mapped call-for-call:

- ``from_dataframe``: "文章: " document prefix → embedder (lazy per-executor
  pandas_udf singleton; same model-save/load-local cache-aside the reference
  does at vector.py:50-60) → one pass that stamps the id, embeds and
  L2-normalizes each row into ONE persisted frame (the document columns,
  the id, the vector) + temp view (the DuckDB ``register`` equivalent,
  vector.py:131). The driver also resolves the same embedding kernel once,
  for queries.
- ``search_top_n``: "クエリ: " prefix → embed on the driver (vector.py:164)
  → query vector inlined as a literal into one SQL statement (as the
  reference does, vector.py:173-180) → top-n by cosine distance, with the
  ORIGINAL dataset columns + ``score`` + 0-based ``rank`` (the reference's
  exact result contract; its app then does rank+1 for display).

Where the Spark version deliberately differs (and why it wins at scale):
all query texts of a call are embedded in one batched ``encode``, and each
returned frame is one JVM-only plan of one job. The query vector is
normalized on the driver and scored against the unit store with one
dot-product fold per row (``operators/knn.knn_topk_statement``); the
display columns ride in the same cached row as the vector, so the n
winners need no join back, and the rank is each winner's position in the
top-n output, so they need no rank window or re-sort either. No Python
worker runs, nothing is persisted per request, and a request builds no
DataFrame before ``spark.sql``. The store
is a distributed, spill-safe persisted frame instead of an in-process
pandas register.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.inference import (
    QUERY_PREFIX,
    load_embed_backend,
    make_embedder_udf,
    with_doc_prefix,
)
from cobalt_duckdb_spark.functions.vector import l2_normalize
from cobalt_duckdb_spark.operators.knn import knn_topk_statement

_ID = "_cobalt_doc_id"
_VEC = "_cobalt_embedding"


class SparkSearchClient:
    """See module docstring. Construct via ``from_dataframe``; ``close``
    releases the cached frame."""

    def __init__(self, data: DataFrame, target: str, embed, encode) -> None:
        from pyspark import StorageLevel

        # Private per client: the view, so two clients never read each
        # other's frame, and the plan. Spark keys its cache on the analyzed
        # plan, so two clients over one input would share one cache entry,
        # and closing either would leave the other re-embedding the corpus
        # on every request. A literal of the key, projected away again,
        # makes the plan this client's own; the optimizer removes it.
        key = uuid.uuid4().hex
        self._view = f"_cobalt_search_{key}"
        self.target = target
        self._encode = encode
        # two steps: Spark rejects a Python UDF inside the higher-order
        # functions of l2_normalize
        self._frame = (
            data.withColumn(_ID, F.monotonically_increasing_id())
            .withColumn(_VEC, embed(with_doc_prefix(target)))
            .withColumn(_VEC, l2_normalize(_VEC))
            .withColumn(key, F.lit(key))
            .drop(key)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._frame.createOrReplaceTempView(self._view)
        self._doc_cols = list(data.columns)
        self.dataset = self._frame.drop(_VEC)
        self.store = self._frame.select(
            F.col(_ID).alias("vec_id"), F.col(_VEC).alias("embedding")
        ).filter(F.col("embedding").isNotNull())

    @classmethod
    def from_dataframe(
        cls,
        data: DataFrame,
        target: str,
        model_name: str = "cl-nagoya/ruri-large",
        dim: int = 64,
        model_dir: str | None = None,
        vector_store_name: str = "ruri_vector_index",
    ) -> "SparkSearchClient":
        """Initialize from a document DataFrame (reference vector.py:98-135).

        One pass stamps each row's id (``monotonically_increasing_id``),
        embeds it and L2-normalizes the vector, into ONE persisted frame:
        the document columns, the id and the vector. The id and the vector
        sit in the same cached row, so they can never disagree; ``dataset``
        and ``store`` are projections of that frame, and the first action
        over either builds the cache in one job. ``store`` is also
        registered as ``vector_store_name`` for the SQL surface.

        The driver loads the embedding model here, as the reference does
        (vector.py:50-60), to encode query text in-process; documents are
        still embedded on the executors. Both sides call the same
        ``load_embed_backend`` kernel, so a query vector equals the vector
        the executors would compute for the same text."""
        embed = make_embedder_udf(model_name, dim, model_dir)
        encode, _ = load_embed_backend(model_name, dim, model_dir)
        client = cls(data, target, embed, encode)
        client.store.createOrReplaceTempView(vector_store_name)
        return client

    def close(self) -> None:
        """Release the cached frame and the client's private view; the
        client serves no request after this."""
        self._frame.sparkSession.catalog.dropTempView(self._view)
        self._frame.unpersist()

    def search_top_n(
        self, query: str | list[str], n: int = 10
    ) -> list[DataFrame]:
        """Top-n search (reference vector.py:140-190): returns one result
        DataFrame per query — the dataset's own columns plus ``score``
        (cosine distance) and 0-based ``rank``.

        Query texts are embedded on the driver in one ``encode`` call; each
        returned frame then runs in the JVM alone (see ``_top_n``)."""
        import numpy as np

        queries = [query] if isinstance(query, str) else list(query)
        vecs = np.asarray(
            self._encode([QUERY_PREFIX + q for q in queries]), dtype=np.float32
        )
        return [self._top_n(vec, n) for vec in vecs]

    def _top_n(self, vec, n: int) -> DataFrame:
        """One query's result frame: one ``spark.sql`` statement
        (``knn_topk_statement``) over the client's cached frame, with the
        query inlined as a literal. It scores every row and keeps the n
        nearest with their display columns (``TakeOrderedAndProject``),
        which come out as one partition in (score, id) order; each row's
        rank is its position there. One job, no join, no window, no
        sort."""
        return self._frame.sparkSession.sql(
            knn_topk_statement(self._view, vec, n, self._doc_cols, _ID, _VEC)
        )
