"""Product quantization (PQ) with asymmetric-distance (ADC) search — the
memory-compression scale path for similarity search, complementing IVF cell
pruning (``operators/similarity.py``) and LSH bucketing
(``operators/mllib_ann.py``).

PQ splits each D-dim vector into M subvectors, quantizes each against a
per-subspace codebook of K centroids, and stores only the M code ids —
D·4 bytes shrink to M bytes (64-dim float32 → 8 bytes = 32×). Queries score
compressed vectors with an ADC lookup table: per query, precompute the L2²
from each query subvector to every centroid (M·K values), then a vector's
approximate distance is the sum of M table lookups — no decompression, no
full-width arithmetic. This is the Jegou et al. "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) design, the backbone of FAISS-style
billion-vector indexes.

Codebooks here are DETERMINISTIC (subvectors of the lowest-id stored
vectors), the same policy as ``make_centroids`` for IVF: reproducible on any
engine, so the ENTIRE pipeline — train, encode, ADC search — is replayed by
the DuckDB oracle as plain SQL. Swap in per-subspace k-means
(``operators/clustering.py``) offline for production codebooks; every query
shape below is unchanged.

Scale shape:
- Codebook: M·K subvectors ≪ data → broadcast everywhere.
- Encode: map-only over the big table (cross with M·K broadcast rows,
  per-(vector, subspace) argmin window keyed by the same shuffle) — computed
  ONCE at ingest; the (vec_id, sub, code) long table IS the compressed index
  (in a real lake: codes packed to a BINARY column, M bytes/vector).
- Search: codes ⋈ broadcast LUT on (sub, code) + one sum-aggregate per
  (query, vector) + per-query top-k window. Linear in N like exact KNN but
  each comparison is M lookups+adds instead of D multiplies, over a 32×
  smaller table; compose with IVF cells to prune N itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.ordering import sort_result

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (M * DSUB = embedding dim 64)
PQ_KSUB = 16  # centroids per subspace


def _l2sq(a, b):
    """Σ (aᵢ−bᵢ)² as a Catalyst expression (JVM, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub, cid, cvec): per-subspace codebook from the ``ksub`` lowest-id
    vectors' subvectors — deterministic "training" (see module docstring)."""
    base = (
        embeddings.orderBy(id_col)
        .limit(ksub)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("v"))
    )
    subs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("v", s * dsub + 1, dsub).alias("cvec"),
                )
                for s in range(m)
            ]
        )
    )
    # ≤ m·ksub rows (128 at the defaults) consumed by EVERY downstream stage
    # (encode's packed broadcast, the per-query LUT, reranks) — without the
    # checkpoint each consumer re-ran the TakeOrdered "training" pass over
    # the full embeddings table (guide §1.2, r10)
    return (
        base.select("cid", subs.alias("sc"))
        .select(F.col("sc.sub").alias("sub"), "cid", F.col("sc.cvec").alias("cvec"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sub, code): nearest centroid per subspace (L2², tie → lowest
    cid); any other non-vector columns of ``embeddings`` (e.g. an IVF cell)
    ride along on every code row.

    Genuinely map-only: codebooks pack to M broadcast rows of per-subspace
    (cid, cvec) struct arrays; the per-(vector, sub) argmin is ``array_min``
    over a ``transform`` to (distance, cid) structs (lexicographic struct
    ordering = lowest distance, tie → lowest cid). The output is N·M code
    rows — the compressed index itself — with NO shuffle: the earlier
    formulation windowed N·M·K exploded rows through an exchange."""
    v = F.col(vec_col).cast("array<double>")
    packed = codebooks.groupBy("sub").agg(
        F.collect_list(F.struct(F.col("cid"), F.col("cvec"))).alias("cents")
    )
    sub_v = F.slice("v", F.col("sub") * dsub + 1, dsub)
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(_l2sq(sub_v, c["cvec"]).alias("d"), c["cid"].alias("cid")),
        )
    )
    keep = [c for c in embeddings.columns if c != vec_col]
    return (
        embeddings.select(*keep, v.alias("v"))
        .crossJoin(F.broadcast(packed))
        .select(*keep, "sub", best["cid"].alias("code"))
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
) -> DataFrame:
    """ADC top-k over PQ codes: (query_id, rank, vec_id, adc_distance).

    Ranking uses the ROUNDED distance with a vec_id tiebreak: PQ code
    collisions make exact distance ties COMMON (same codes ⇒ same lookup
    multiset), and summation order would otherwise make the tie order
    engine-dependent. Unsorted: the re-rank query joins the candidates, and
    the query that returns them sorts them."""
    books = pq_codebooks(embeddings, m, dsub, ksub, id_col)
    codes = pq_encode(embeddings, books, m, dsub, id_col)

    qv = F.col(query_vec_col).cast("array<double>")
    lut = queries.select(F.col(query_id_col), qv.alias("qv")).crossJoin(
        F.broadcast(books)
    ).select(
        query_id_col,
        "sub",
        F.col("cid").alias("code"),
        _l2sq(F.slice("qv", F.col("sub") * dsub + 1, dsub), F.col("cvec")).alias("pd"),
    )

    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("pd"), round_to).alias("adc_distance"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("adc_distance"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "adc_distance")
    )


def ivfpq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
) -> DataFrame:
    """IVF+PQ composed index (the FAISS ``IVFx,PQy`` architecture, Jegou et
    al. §V): a coarse quantizer prunes the candidate set to ``nprobe`` cells,
    then ADC over 8-byte PQ codes scores only those candidates — N shrinks by
    ~C/nprobe AND each comparison shrinks from D multiplies to M lookups.

    This variant encodes full vectors, not cell residuals: residual encoding
    couples the two codebooks and buys accuracy, but the pruning/compression
    plan — the part that matters at 100 TB — is identical, and full-vector
    codes keep the whole pipeline replayable as SQL by the oracle.

    Scale shape: both codebooks broadcast; cell assignment + PQ encode are
    one-time map-only ingest jobs (lake layout: partition by cell, codes as
    an M-byte BINARY column → every query is a partition-pruned scan of
    compressed codes). Search = codes ⋈ broadcast LUT whose rows carry the
    query's probed cells (probing is a filter, codes never shuffle) + one
    partial-aggregated sum per (query, vec) + per-query top-k window."""
    from cobalt_duckdb_spark.functions.vector import cosine_distance
    from cobalt_duckdb_spark.operators.similarity import ivf_assign, make_centroids

    centroids = make_centroids(embeddings, num_centroids, id_col)
    books = pq_codebooks(embeddings, m, dsub, ksub, id_col)
    codes = pq_encode(
        ivf_assign(embeddings, centroids, id_col), books, m, dsub, id_col
    )

    # per query: the nprobe nearest cells (cosine, tie → lowest centroid
    # id — lexicographic struct order), then its LUT rows
    packed = centroids.groupBy().agg(
        F.collect_list(
            F.struct(F.col("centroid_id").alias("cid"), F.col("centroid_vec").alias("cvec"))
        ).alias("cents")
    )
    nearest = F.array_sort(
        F.transform(
            "cents",
            lambda c: F.struct(
                cosine_distance(F.col(query_vec_col), c["cvec"]).alias("d"),
                c["cid"].alias("cid"),
            ),
        )
    )
    lut = (
        queries.crossJoin(F.broadcast(packed))
        .select(
            F.col(query_id_col),
            F.col(query_vec_col).cast("array<double>").alias("qv"),
            F.slice(nearest, 1, nprobe)["cid"].alias("probes"),
        )
        .crossJoin(F.broadcast(books))
        .select(
            query_id_col,
            "probes",
            "sub",
            F.col("cid").alias("code"),
            _l2sq(F.slice("qv", F.col("sub") * dsub + 1, dsub), F.col("cvec")).alias("pd"),
        )
    )

    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.array_contains("probes", F.col("cell")))
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("pd"), round_to).alias("adc_distance"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_distance"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "adc_distance")
        .transform(sort_result, query_id_col, "rank")
    )


def ivfpq_adc_oracle_sql(
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    query_ids: tuple[int, ...] = (0, 1, 2),
) -> str:
    """DuckDB twin: identical coarse-prune + encode + ADC pipeline in SQL."""
    qid_list = ", ".join(str(q) for q in query_ids)
    l2 = (
        "list_aggregate(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )
    sub_slice = "(CAST({col} AS DOUBLE[]))[b.sub * {dsub} + 1 : b.sub * {dsub} + {dsub}]"
    e_slice = sub_slice.format(col="e.embedding", dsub=dsub)
    q_slice = sub_slice.format(col="q.embedding", dsub=dsub)
    return f"""
    WITH centroids AS (
        SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings ORDER BY vec_id LIMIT {num_centroids}
    ),
    cells AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.centroid_id AS cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv),
                                c.centroid_id) AS rn
            FROM embeddings e CROSS JOIN centroids c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, c.centroid_id AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY 1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cv),
                                c.centroid_id) AS rn
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id IN ({qid_list})) q
            CROSS JOIN centroids c
        ) WHERE rn <= {nprobe}
    ),
    subs AS (SELECT unnest(range(0, {m})) AS sub),
    books AS (
        SELECT s.sub AS sub, bb.cid,
               (CAST(bb.v AS DOUBLE[]))[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS cvec
        FROM (SELECT vec_id AS cid, embedding AS v
              FROM embeddings ORDER BY vec_id LIMIT {ksub}) bb
        CROSS JOIN subs s
    ),
    codes AS (
        SELECT vec_id, sub, cid AS code FROM (
            SELECT e.vec_id, b.sub, b.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id, b.sub
                       ORDER BY {l2.format(a=e_slice, b='b.cvec')}, b.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN books b
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, b.sub, b.cid AS code,
               {l2.format(a=q_slice, b='b.cvec')} AS pd
        FROM (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id IN ({qid_list})) q
        CROSS JOIN books b
    ),
    cand AS (
        SELECT p.query_id, c.vec_id
        FROM cells c JOIN probes p ON c.cell = p.cell
    ),
    scored AS (
        SELECT l.query_id, cd.vec_id, ROUND(SUM(l.pd), 6) AS adc_distance
        FROM codes cd
        JOIN cand ca ON cd.vec_id = ca.vec_id
        JOIN lut l ON l.query_id = ca.query_id
                  AND l.sub = cd.sub AND l.code = cd.code
        GROUP BY l.query_id, cd.vec_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id, adc_distance
    FROM (
        SELECT query_id, vec_id, adc_distance,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY adc_distance, vec_id
               ) AS rn
        FROM scored
    ) WHERE rn <= {k}
    ORDER BY query_id, rank
    """


def pq_adc_oracle_sql(
    k: int = 5,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    query_ids: tuple[int, ...] = (0, 1, 2),
) -> str:
    """DuckDB twin replaying the identical train → encode → ADC pipeline."""
    qid_list = ", ".join(str(q) for q in query_ids)
    l2 = (
        "list_aggregate(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )
    sub_slice = "(CAST({col} AS DOUBLE[]))[sub * {dsub} + 1 : sub * {dsub} + {dsub}]"
    e_slice = sub_slice.format(col="e.embedding", dsub=dsub)
    q_slice = sub_slice.format(col="q.embedding", dsub=dsub)
    return f"""
    WITH subs AS (SELECT unnest(range(0, {m})) AS sub),
    books AS (
        SELECT s.sub, b.cid,
               (CAST(b.v AS DOUBLE[]))[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS cvec
        FROM (SELECT vec_id AS cid, embedding AS v
              FROM embeddings ORDER BY vec_id LIMIT {ksub}) b
        CROSS JOIN subs s
    ),
    codes AS (
        SELECT vec_id, sub, cid AS code FROM (
            SELECT e.vec_id, b.sub, b.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id, b.sub
                       ORDER BY {l2.format(a=e_slice.replace('sub *', 'b.sub *'), b='b.cvec')},
                                b.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN books b
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, b.sub, b.cid AS code,
               {l2.format(a=q_slice.replace('sub *', 'b.sub *'), b='b.cvec')} AS pd
        FROM (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id IN ({qid_list})) q
        CROSS JOIN books b
    ),
    scored AS (
        SELECT l.query_id, c.vec_id, ROUND(SUM(l.pd), 6) AS adc_distance
        FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
        GROUP BY l.query_id, c.vec_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id, adc_distance
    FROM (
        SELECT query_id, vec_id, adc_distance,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY adc_distance, vec_id
               ) AS rn
        FROM scored
    ) WHERE rn <= {k}
    ORDER BY query_id, rank
    """


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    num_centroids: int = 16,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
):
    """Materialize the IVF-PQ index as a parquet LAKE LAYOUT: one row per
    vector, PQ codes packed to an ``array<tinyint>`` column (M bytes of
    payload per vector; a production lake would pack them to BINARY — the
    layout and pruning behavior are identical), PARTITIONED BY the coarse
    cell. That turns probing into partition pruning: scanning ``nprobe`` of
    ``num_centroids`` cells reads ``nprobe/C`` of the files, before any row
    filtering — at 100 TB this is the difference between touching 100 TB
    and touching ~6 TB with the default 4/16 probe ratio.

    Returns ``(centroids, codebooks)`` — the tiny broadcast-side artifacts a
    query needs next to the on-disk codes (in a lake these live beside the
    index as their own parquet files)."""
    from cobalt_duckdb_spark.operators.similarity import ivf_assign, make_centroids

    centroids = make_centroids(embeddings, num_centroids, id_col)
    books = pq_codebooks(embeddings, m, dsub, ksub, id_col)
    codes = pq_encode(ivf_assign(embeddings, centroids, id_col), books, m, dsub, id_col)
    packed = codes.groupBy(id_col, "cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s["code"].cast("tinyint"),
        ).alias("codes")
    )
    packed.write.mode("overwrite").partitionBy("cell").parquet(path)
    return centroids, books


def adc_topk_from_index(
    spark,
    path: str,
    books: DataFrame,
    queries: DataFrame,
    probe_cells: list[int],
    k: int = 5,
    dsub: int = PQ_DSUB,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int = 6,
) -> DataFrame:
    """ADC top-k served FROM the on-disk index: read only ``probe_cells``
    partitions (Catalyst partition pruning — assert ``PartitionFilters`` in
    the scan), unpack codes with ``posexplode`` (pos == subspace by
    construction of :func:`write_ivfpq_index`'s sort), then the same
    broadcast-LUT join + per-query window as :func:`pq_adc_topk`."""
    idx = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    codes = idx.select(
        id_col, F.posexplode("codes").alias("sub", "code")
    ).withColumn("code", F.col("code").cast("int"))

    qv = F.col(query_vec_col).cast("array<double>")
    lut = (
        queries.select(F.col(query_id_col), qv.alias("qv"))
        .crossJoin(F.broadcast(books))
        .select(
            query_id_col,
            "sub",
            F.col("cid").alias("code"),
            _l2sq(
                F.slice("qv", F.col("sub") * dsub + 1, dsub), F.col("cvec")
            ).alias("pd"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("pd"), round_to).alias("adc_distance"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_distance"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "adc_distance")
        .transform(sort_result, query_id_col, "rank")
    )
