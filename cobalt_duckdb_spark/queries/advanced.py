"""Advanced-surface pack: remaining SURVEY.md §2 rows — percent_rank/
cume_dist windows, null-handling scalar ops, approximate aggregates, Pandas
UDAF (applyInPandas), Python UDTF (Spark 4), and array-serialization (F7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.exact import (
    exact_round_avg,
    exact_round_avg_int,
    exact_round_avg_int_sql,
    exact_round_avg_sql,
    exact_round_ratio,
    exact_round_ratio_sql,
    spark_round_sql,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register


@register(
    "window_percent_rank_cume",
    oracle="""
    SELECT s_suppkey, ROUND(s_acctbal, 2) AS acctbal,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(3) OVER w AS BIGINT) AS tercile
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
    ORDER BY s_suppkey
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile over the (small) supplier table —
    a global window is acceptable only because |supplier| is dimension-sized;
    fact-table windows must partition (see windows.py)."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        F.round("s_acctbal", 2).alias("acctbal"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(3).over(w).cast("bigint").alias("tercile"),
    ).orderBy("s_suppkey")


@register(
    "scalar_null_handling",
    oracle="""
    WITH j AS (
        SELECT c.c_custkey, c.c_acctbal, o.o_totalprice
        FROM customer c
        LEFT JOIN (SELECT o_custkey, MAX(o_totalprice) AS o_totalprice
                   FROM orders WHERE o_totalprice > 490000
                   GROUP BY o_custkey) o
          ON c.c_custkey = o.o_custkey
        WHERE c.c_custkey < 200
    )
    SELECT c_custkey,
           ROUND(COALESCE(o_totalprice, 0.0), 2) AS best_big_order,
           (o_totalprice IS NULL) AS never_big,
           ROUND(COALESCE(o_totalprice, c_acctbal, 0.0), 2) AS fallback_chain,
           NULLIF(COALESCE(o_totalprice, 0.0), 0.0) IS NULL AS nullif_zero,
           CASE WHEN o_totalprice IS NOT NULL THEN 'big-spender'
                WHEN c_acctbal > 5000 THEN 'wealthy'
                ELSE 'regular' END AS segment
    FROM j ORDER BY c_custkey
    """,
)
def scalar_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COALESCE / NULLIF / IS NULL / CASE over left-join-produced nulls."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 490000)
        .groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("o_totalprice"))
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.select(
        "c_custkey",
        F.round(F.coalesce("o_totalprice", F.lit(0.0)), 2).alias("best_big_order"),
        F.col("o_totalprice").isNull().alias("never_big"),
        F.round(F.coalesce("o_totalprice", "c_acctbal", F.lit(0.0)), 2).alias(
            "fallback_chain"
        ),
        F.nullif(F.coalesce("o_totalprice", F.lit(0.0)), F.lit(0.0))
        .isNull()
        .alias("nullif_zero"),
        F.when(F.col("o_totalprice").isNotNull(), "big-spender")
        .when(F.col("c_acctbal") > 5000, "wealthy")
        .otherwise("regular")
        .alias("segment"),
    ).transform(sort_result, "c_custkey")


@register("agg_approx_sketches")
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates: HLL++ approx_count_distinct and percentile_approx.
    Rows-only check (sketch outputs are engine-specific by nature); pytest
    pins them within tolerance of the exact values."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey").alias("approx_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median"),
        )
        .transform(sort_result, "l_returnflag")
    )


@register(
    "udaf_label_centroids",
    oracle="""
    WITH e AS (
        SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    u AS (
        SELECT label, vec_id,
               generate_subscripts(emb, 1) AS dim_idx, unnest(emb) AS v
        FROM e
    ),
    cent AS (
        SELECT label, dim_idx, avg(v) AS c FROM u GROUP BY label, dim_idx
    ),
    cent_str AS (
        SELECT label,
               array_to_string(
                   list(CAST(round(c * 1000, 0) AS BIGINT) ORDER BY dim_idx),
                   '|') AS centroid_milli
        FROM cent GROUP BY label
    ),
    dist AS (
        SELECT u.label, u.vec_id, sqrt(sum((u.v - cent.c) * (u.v - cent.c))) AS d
        FROM u JOIN cent ON u.label = cent.label AND u.dim_idx = cent.dim_idx
        GROUP BY u.label, u.vec_id
    ),
    agg AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
               ROUND(avg(d), 6) AS mean_dist_to_centroid
        FROM dist GROUP BY label
    )
    SELECT a.label, a.n_vectors, s.centroid_milli, a.mean_dist_to_centroid
    FROM agg a JOIN cent_str s ON a.label = s.label
    ORDER BY a.label
    """,
)
def udaf_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF via groupBy().applyInPandas (SURVEY.md §2.10 U5): per-label
    embedding centroid + dispersion with NumPy inside Arrow batches. This is
    the shape model-training feature aggregation takes when the kernel
    genuinely needs NumPy (otherwise prefer built-ins).

    The centroid is serialized to a pipe-joined milli-unit integer string —
    the driver's hash canonicalizer cannot sort ARRAY cells (the contract
    that broke r1's collect_list queries AND r2's first registration of this
    query; tests/test_registry_contract.py now enforces it structurally).
    Rounding to SQL semantics happens JVM-side (F.round) so Python banker's
    rounding never touches a compared value; the oracle unrolls the same
    centroid with unnest + generate_subscripts."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        c = mat.mean(axis=0)
        spread = float(np.linalg.norm(mat - c, axis=1).mean())
        # DuckDB round() is half-away-from-zero; replicate exactly (Python's
        # round() is banker's) for the milli quantization.
        milli = "|".join(
            str(int(np.sign(x) * np.floor(abs(x) * 1000 + 0.5))) for x in c
        )
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vectors": [len(pdf)],
                "centroid_milli": [milli],
                "_spread": [spread],
            }
        )

    out_schema = (
        "label INT, n_vectors BIGINT, centroid_milli STRING, _spread DOUBLE"
    )
    return (
        emb.groupBy("label")
        .applyInPandas(centroid, out_schema)
        .select(
            "label",
            "n_vectors",
            "centroid_milli",
            F.round("_spread", 6).alias("mean_dist_to_centroid"),
        )
        .transform(sort_result, "label")
    )


@register(
    "udtf_sentence_split",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE doc_id < 20
    ),
    chunks AS (
        SELECT doc_id, unnest(range(0, len(t), 32)) AS start0, t FROM toks
    )
    SELECT doc_id,
           CAST(start0 / 32 AS INT) AS chunk_idx,
           CAST(LEAST(32, len(t) - start0) AS INT) AS n_tokens,
           array_to_string(t[start0 + 1 : start0 + 32], ' ') AS chunk
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4, §2.10 U5): one row per fixed-size token chunk of
    each document — the table-function shape used for context-window chunking
    in LLM pipelines. Arrow-optimized (``useArrow=True``): rows cross the
    JVM↔Python boundary in Arrow batches (ArrowEvalPythonUDTF in the plan),
    not pickled row-at-a-time — tools/plan_audit.py flags the non-Arrow form.
    The oracle unrolls the identical chunk arithmetic in pure SQL
    (string_split + range/unnest — same pattern as text_chunk_sliding_windows
    but stride == width, no overlap), so the UDTF output is differentially
    checked, not just row-counted."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_idx INT, n_tokens INT, chunk STRING", useArrow=True)
    class ChunkSplit:
        def eval(self, text: str, chunk_tokens: int):
            toks = (text or "").split(" ")
            for i in range(0, len(toks), chunk_tokens):
                part = toks[i : i + chunk_tokens]
                yield i // chunk_tokens, len(part), " ".join(part)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    spark.udtf.register("chunk_split", ChunkSplit)
    docs.createOrReplaceTempView("chunk_docs")
    return spark.sql(
        """
        SELECT /*+ REPARTITION(1) */ d.doc_id, c.chunk_idx, c.n_tokens, c.chunk
        FROM chunk_docs d, LATERAL chunk_split(d.text, 32) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


@register(
    "scalar_array_serialization",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           to_json(list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(round(x * 1000, 0) AS BIGINT))) AS vec_milli_json
    FROM embeddings WHERE vec_id < 20 ORDER BY vec_id
    """,
)
def scalar_array_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (array→string serialization, dead code in the reference —
    ``vector.py:22-37``): serialize embeddings to JSON. Values are quantized
    to integer milli-units first because float→string formatting is
    engine-specific; integer JSON arrays render identically."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    milli = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1000, 0).cast("bigint"),
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.to_json(milli).alias("vec_milli_json"),
    ).transform(sort_result, "vec_id")


def _cms_oracle() -> str:
    from cobalt_duckdb_spark.operators.sketch import cms_oracle_sql

    return cms_oracle_sql(top_k=20)


@register("sketch_cms_heavy_hitters", oracle=_cms_oracle())
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters over the token stream: top-20 exact
    counts side-by-side with the deterministic CMS estimate (the oracle
    replays the identical d×w sketch — see operators/sketch.py)."""
    from cobalt_duckdb_spark.operators.sketch import heavy_hitters_with_cms

    return heavy_hitters_with_cms(load_table(spark, sf_dir, "documents"), top_k=20)


@register(
    "split_train_valid_test_hash",
    oracle="""
    WITH assigned AS (
        SELECT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        FROM documents
    )
    SELECT lang,
           CAST(SUM(CASE WHEN bucket < 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN bucket >= 80 AND bucket < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(SUM(CASE WHEN bucket >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM assigned GROUP BY lang ORDER BY lang
    """,
)
def split_train_valid_test_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by id-hash bucket —
    the reproducible alternative to random sampling for training data
    (same row lands in the same split on every engine, run, partitioning,
    and data refresh; `sampleBy(seed)` guarantees none of those)."""
    from cobalt_duckdb_spark.operators.dedup import token_hash

    d = load_table(spark, sf_dir, "documents")
    bucket = token_hash(F.col("doc_id").cast("string")) % 100
    return (
        d.select("lang", bucket.alias("bucket"))
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("bucket") < 80, 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("bucket").between(80, 89), 1).otherwise(0))
            .cast("bigint")
            .alias("n_valid"),
            F.sum(F.when(F.col("bucket") >= 90, 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .transform(sort_result, "lang")
    )


@register(
    "dq_integrity_audit",
    oracle="""
    SELECT 'lineitem_orphan_orderkeys' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS violations
    UNION ALL
    SELECT 'orders_orphan_custkeys',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_duplicate_pk',
           CAST((SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
                 GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_null_quantity',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_discount_out_of_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0.0 OR l_discount > 0.5
                    OR l_discount IS NULL) AS BIGINT)
    ORDER BY check_name
    """,
)
def dq_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit as a query: referential integrity (anti joins),
    primary-key uniqueness, null and range constraints — the checks a lake
    pipeline runs before promoting a batch (operators/quality.py)."""
    from cobalt_duckdb_spark.operators.quality import (
        duplicate_key_count,
        null_counts,
        orphans,
        value_range_violations,
    )

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    checks = [
        ("lineitem_orphan_orderkeys", orphans(l, o, "l_orderkey", "o_orderkey").count()),
        ("orders_orphan_custkeys", orphans(o, c, "o_custkey", "c_custkey").count()),
        ("orders_duplicate_pk", duplicate_key_count(o, "o_orderkey")),
        ("lineitem_null_quantity", null_counts(l, "l_quantity")["l_quantity"]),
        (
            "lineitem_discount_out_of_range",
            value_range_violations(l, "l_discount", 0.0, 0.5).count(),
        ),
    ]
    return spark.createDataFrame(
        sorted(checks), "check_name STRING, violations BIGINT"
    )


@register(
    "split_stratified_sample",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket,
               CASE lang WHEN 'en' THEN 20 WHEN 'zh' THEN 80 ELSE 50 END AS rate
        FROM documents
    )
    SELECT doc_id, lang FROM assigned
    WHERE bucket < rate
    ORDER BY doc_id
    """,
)
def split_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic downsampling — the data-mixing step of a
    training pipeline (e.g. downweight an overrepresented language, upweight
    a scarce one). Per-stratum keep-rates: en 20%, zh 80%, default 50%.

    Sampling is by id-hash bucket (salted so it is independent of the
    train/valid/test split hash), not ``sample()``: the same row is kept on
    every engine, run, partitioning and data refresh, and the whole thing is
    a stateless map over the scan — no shuffle, no RNG state, trivially
    scale-parallel."""
    from cobalt_duckdb_spark.operators.dedup import token_hash

    d = load_table(spark, sf_dir, "documents")
    bucket = token_hash(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    ) % 100
    rate = (
        F.when(F.col("lang") == "en", 20)
        .when(F.col("lang") == "zh", 80)
        .otherwise(50)
    )
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .select("doc_id", "lang")
        .transform(sort_result, "doc_id")
    )


@register(
    "pack_sequences_budget",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    binned AS (
        SELECT doc_id, lang, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 512 AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT lang, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM binned
    GROUP BY lang, bin_id
    ORDER BY lang, bin_id
    """,
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: assign docs to fixed
    token-budget bins (512 tokens) by exclusive running token count — the
    deterministic streaming-concat packing an LLM data loader does, as a
    set-oriented query (bin = floor(prefix_sum_before / budget); a doc that
    crosses the boundary starts... rides with its starting bin, matching
    greedy concat-and-split packing).

    Scale shape: the running sum is windowed PER LANG (the natural packing
    stratum — mixed-language bins are usually undesirable anyway), so the
    cumulative window parallelizes across strata instead of serializing the
    whole corpus through one partition. Deterministic order (doc_id), no RNG."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = toks.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 512).cast(
            "bigint"
        ),
    )
    return (
        binned.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .transform(sort_result, "lang", "bin_id")
    )


@register(
    "mix_temperature_sample",
    oracle="""
    WITH per_src AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, n_docs,
               ROUND(sqrt(n_docs) / SUM(sqrt(n_docs)) OVER (), 6) AS weight
        FROM per_src
    ),
    targets AS (
        SELECT source, n_docs, weight,
               CAST(FLOOR(weight * 300) AS BIGINT) AS target_rows
        FROM weighted
    ),
    ranked AS (
        SELECT d.doc_id, d.source,
               ROW_NUMBER() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('mixT:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS rn
        FROM documents d
    )
    SELECT t.source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           t.weight,
           t.target_rows,
           CAST(COUNT(r.doc_id) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(r.doc_id), 0) AS BIGINT) AS sum_kept_ids
    FROM targets t
    LEFT JOIN ranked r ON r.source = t.source AND r.rn <= t.target_rows
    GROUP BY t.source, t.n_docs, t.weight, t.target_rows
    ORDER BY t.source
    """,
)
def mix_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (the multilingual-corpus mixing
    rule: p_s ∝ n_s^(1/T), here T=2 → sqrt): compute per-source mixture
    weights, turn them into row budgets for a 300-doc mix, and select each
    source's rows deterministically by salted id-hash rank — the same mix on
    every engine, run, and partitioning (no RNG, no sample()).

    Outputs the audit a mixing job emits: per-source corpus size, weight,
    target, actual kept count, and an exact integer checksum of kept ids
    (sum) so the oracle verifies the SELECTION, not just the counts.

    Scale shape: weights come from a tiny per-source aggregate (broadcast
    back); ranking is one window per source partition — the only
    source-keyed shuffle; selection is a filter. The md5 rank key is
    engine-portable (hex string ordering)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = per_src.select(
        "source",
        "n_docs",
        F.round(
            F.sqrt("n_docs")
            / F.sum(F.sqrt("n_docs")).over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
            6,
        ).alias("weight"),
    )
    targets = weighted.withColumn(
        "target_rows", F.floor(F.col("weight") * 300).cast("bigint")
    )
    rnk = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("mixT:"), F.col("doc_id").cast("string"))),
        F.asc("doc_id"),
    )
    ranked = d.select(
        "doc_id", "source", F.row_number().over(rnk).alias("rn")
    )
    kept = ranked.join(
        F.broadcast(targets.select("source", "target_rows")), "source"
    ).filter(F.col("rn") <= F.col("target_rows"))
    return (
        targets.join(
            kept.groupBy("source").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
            ),
            "source",
            "left",
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "weight",
            "target_rows",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("sum_kept_ids"), F.lit(0))
            .cast("bigint")
            .alias("sum_kept_ids"),
        )
        .orderBy("source")
    )


@register(
    "features_customer_rfm",
    oracle="""
    WITH base AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               COUNT(*) AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    anchored AS (
        SELECT o_custkey,
               date_diff('day', last_order, (SELECT MAX(o_orderdate) FROM orders))
                   AS recency_days,
               frequency, monetary
        FROM base
    ),
    scored AS (
        SELECT o_custkey AS custkey,
               CAST(recency_days AS BIGINT) AS recency_days,
               CAST(frequency AS BIGINT) AS frequency,
               monetary,
               NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
        FROM anchored
    )
    SELECT custkey, recency_days, frequency, monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score
    FROM scored
    WHERE custkey < 200
    ORDER BY custkey
    """,
)
def features_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering (the feature-store shape): per-customer RFM —
    recency vs the corpus's last order date, order frequency, monetary
    total — plus 1-5 quintile scores. Deterministic quintiles: every NTILE
    orders by (metric, custkey) so ties split identically on every engine
    and partitioning.

    Scale shape: one groupBy(custkey) aggregate (uniform key), the global
    max date as a broadcast single-row frame (no driver round-trip), and
    three rank windows over the CUSTOMER aggregate (not the order log).
    Output capped to a stable id range for the audit."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    scored = (
        base.crossJoin(F.broadcast(anchor))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.datediff("anchor", "last_order").cast("bigint").alias("recency_days"),
            F.col("frequency").cast("bigint").alias("frequency"),
            "monetary",
        )
        .select(
            "*",
            F.ntile(5)
            .over(Window.orderBy("recency_days", "custkey"))
            .cast("int")
            .alias("r_score"),
            F.ntile(5)
            .over(Window.orderBy(F.desc("frequency"), F.asc("custkey")))
            .cast("int")
            .alias("f_score"),
            F.ntile(5)
            .over(Window.orderBy(F.desc("monetary"), F.asc("custkey")))
            .cast("int")
            .alias("m_score"),
        )
    )
    return scored.filter(F.col("custkey") < 200).orderBy("custkey")


@register(
    "skyline_cheap_small_parts",
    oracle="""
    WITH g AS (
        SELECT p_retailprice AS price, MIN(p_size) AS gmin
        FROM part GROUP BY p_retailprice
    ),
    g2 AS (
        SELECT price, gmin,
               MIN(gmin) OVER (
                   ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prevmin
        FROM g
    )
    SELECT p.p_partkey AS p_partkey,
           ROUND(p.p_retailprice, 2) AS price,
           p.p_size AS p_size
    FROM part p JOIN g2 ON p.p_retailprice = g2.price
    WHERE p.p_size = g2.gmin
      AND (g2.prevmin IS NULL OR g2.prevmin > p.p_size)
    ORDER BY price, p_partkey
    """,
)
def skyline_cheap_small_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts where no other part is both
    cheaper-or-equal AND smaller-or-equal with at least one strict — the
    multi-objective "best tradeoff" query (here: price vs size).

    The naive formulation is a quadratic NOT EXISTS self-join. For 2-D the
    frontier collapses to a cumulative-min scan: group to one (price → min
    size) row per distinct price, take the running min of size over cheaper
    prices, and a part is on the skyline iff it holds its price-group min and
    beats every cheaper group's min. Cost: one aggregate + one window over
    |distinct prices| + a join back — O(n log n) and shuffle-bounded vs the
    self-join's O(n²) compare volume. The group-level window is a single
    partition only over DISTINCT prices (small by construction); at 100 TB
    the same plan runs with a range-partitioned sort (the groupBy output is
    orders of magnitude smaller than the fact table). Equal (price, size)
    duplicates do not dominate each other, so all co-optimal rows surface —
    pinned by the tie rows in the output."""
    p = load_table(spark, sf_dir, "part")
    g = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.min("p_size").alias("gmin")
    )
    w = (
        Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = g.select("price", "gmin", F.min("gmin").over(w).alias("prevmin"))
    return (
        p.join(F.broadcast(g2), p.p_retailprice == g2.price)
        .filter(
            (F.col("p_size") == F.col("gmin"))
            & (F.col("prevmin").isNull() | (F.col("prevmin") > F.col("p_size")))
        )
        .select(
            "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            "p_size",
        )
        .transform(sort_result, "price", "p_partkey")
    )


@register(
    "dq_histogram_totalprice",
    oracle="""
    WITH binned AS (
        SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bin,
               o_totalprice
        FROM orders
    )
    SELECT bin,
           ROUND(bin * 25000.0, 2) AS bin_low,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS bin_min,
           ROUND(MAX(o_totalprice), 2) AS bin_max,
           ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 4) AS pct
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
)
def dq_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram profile of a value column — the distribution
    fingerprint a data-quality monitor stores per snapshot to catch drift
    (new mass in a tail bin = schema or upstream change). Fixed bin width
    (not quantile bins) so histograms from different snapshots/partitions
    are MERGEABLE by adding counts — the property that lets 100 TB of
    per-file profiles roll up to a dataset profile without a re-scan.

    One map-side-combined aggregate on the bin key; the percent-of-total
    window runs over |bins| rows, not data rows."""
    o = load_table(spark, sf_dir, "orders")
    bin_col = F.floor(F.col("o_totalprice") / 25000.0).cast("bigint")
    out = o.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).alias("bin_max"),
    )
    return (
        out.select(
            "bin",
            F.round(F.col("bin") * 25000.0, 2).alias("bin_low"),
            "n",
            "bin_min",
            "bin_max",
            F.round(100.0 * F.col("n") / F.sum("n").over(Window.partitionBy()), 4).alias(
                "pct"
            ),
        )
        .orderBy("bin")
    )


@register(
    "stats_chi2_lang_source",
    oracle="""
    WITH obs AS (
        SELECT lang, source, COUNT(*) * 1.0 AS o
        FROM documents GROUP BY lang, source
    ),
    rows_ AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY lang),
    cols_ AS (SELECT source, SUM(o) AS c FROM obs GROUP BY source),
    tot AS (SELECT SUM(o) AS n FROM obs),
    grid AS (
        SELECT r.lang, c.source, r.r * c.c / (SELECT n FROM tot) AS expected
        FROM rows_ r CROSS JOIN cols_ c
    ),
    cells AS (
        SELECT g.lang, g.source, COALESCE(o.o, 0.0) AS o, g.expected
        FROM grid g LEFT JOIN obs o
          ON g.lang = o.lang AND g.source = o.source
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((SELECT COUNT(*) - 1 FROM rows_)
                * (SELECT COUNT(*) - 1 FROM cols_) AS BIGINT) AS dof,
           ROUND(SUM((o - expected) * (o - expected) / expected), 4) AS chi2
    FROM cells
    """,
)
def stats_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between two categorical columns
    (lang × source) — the statistical screen a dataset audit runs to detect
    confounded sampling (e.g. one crawl source supplying all of one
    language, which a per-column profile cannot see). Expected counts from
    the marginal product; zero-observed cells still contribute (the grid is
    completed from the marginals, not from the observed cells).

    Scale shape: ONE aggregate over the data → a contingency table of
    |langs|×|sources| rows; marginals are windows over it, and each lang
    explodes over the source list to complete the grid. The statistic is a
    single mergeable sum — per-partition contingency counts roll up."""
    from pyspark.sql import Window

    by_lang = Window.partitionBy("lang")
    obs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
        .select(
            "lang",
            "source",
            "o",
            F.sum("o").over(by_lang).alias("r"),
            F.sum("o").over(Window.partitionBy("source")).alias("c"),
            F.sum("o").over(Window.partitionBy()).alias("n"),
            F.collect_list(F.struct("source", "o")).over(by_lang).alias("seen"),
        )
    )
    langs = obs.select(
        "lang",
        "r",
        "n",
        "seen",
        F.collect_set(F.struct("source", "c")).over(Window.partitionBy()).alias("sources"),
    ).dropDuplicates(["lang"])
    cells = langs.select(
        "r", "n", "seen", F.size("sources").alias("ns"), F.inline("sources")
    ).select(
        "ns",
        F.coalesce(
            F.get(F.filter("seen", lambda x: x["source"] == F.col("source")), 0)["o"],
            F.lit(0.0),
        ).alias("o"),
        (F.col("r") * F.col("c") / F.col("n")).alias("expected"),
    )
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        # |langs| = |grid| div |sources| — exact integer arithmetic
        F.expr("(count(1) div first(ns) - 1) * (first(ns) - 1)").alias("dof"),
        F.round(
            F.sum((F.col("o") - F.col("expected")) * (F.col("o") - F.col("expected")) / F.col("expected")),
            4,
        ).alias("chi2"),
    )


@register(
    "dq_equidepth_deciles",
    oracle="""
    WITH t AS (
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM t GROUP BY decile ORDER BY decile
    """,
)
def dq_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (exact deciles): equal row mass per bucket, so
    bucket boundaries ARE the distribution's quantiles — the complement of
    ``dq_histogram_totalprice``'s fixed-width bins (which go empty/overfull
    under skew). Exact ntile needs a global ordered numbering: correct for
    audit-grade profiling, but at 100 TB a global-order window is one
    partition's sort — use ``percentile_approx`` (see
    ``agg_approx_sketches``) for the streaming/estimate path and reserve
    this exact form for bounded slices. Determinism: o_orderkey tiebreak
    pins which of two equal prices straddles a boundary."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_totalprice",
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("decile"),
    )
    return (
        t.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .select(F.col("decile").cast("bigint").alias("decile"), "n", "lo", "hi")
        .orderBy("decile")
    )


@register(
    "dq_benford_first_digit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM counts)
    SELECT d AS first_digit,
           n,
           ROUND(n / (SELECT t FROM tot), 6) AS observed_p,
           ROUND(log10(1.0 + 1.0 / d), 6) AS benford_p,
           ROUND(ABS(n / (SELECT t FROM tot) - log10(1.0 + 1.0 / d)), 6)
               AS abs_dev
    FROM counts ORDER BY first_digit
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / pipeline-corruption screen: naturally occurring
    multi-scale amounts follow P(d) = log10(1 + 1/d); a synthetic or
    truncated column deviates visibly. Emitted per digit: observed vs
    expected probability and absolute deviation (TPC-H prices are uniform,
    so the HIGH deviation here is itself the correct, pinned answer).

    First digit is taken textually from the FLOORED integer part —
    explicit floor because DuckDB's double→BIGINT cast rounds while
    Spark's truncates, which flips the digit for prices just under a
    decade boundary. Scale shape: map-side digit
    extraction + one 9-group aggregate; the probability normalization is a
    broadcast single-row frame, no second scan."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("string"), 1, 1)
        .cast("int")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = counts.agg(F.sum("n").cast("double").alias("t"))
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("first_digit"),
            "n",
            F.round(F.col("n") / F.col("t"), 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            F.round(F.abs(F.col("n") / F.col("t") - benford), 6).alias("abs_dev"),
        )
        .transform(sort_result, "first_digit")
    )


@register(
    "stats_entropy_event_types",
    oracle=f"""
    WITH counts AS (
        SELECT user_id % 10 AS cohort, event_type,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY user_id % 10, event_type
    ),
    tot AS (
        SELECT cohort, SUM(n) AS t, CAST(COUNT(*) AS BIGINT) AS n_types
        FROM counts GROUP BY cohort
    )
    SELECT c.cohort,
           t.n_types,
           {spark_round_sql('-SUM((c.n / t.t) * ln(c.n / t.t))', 6)}
               AS entropy_nats,
           {spark_round_sql(
               '-SUM((c.n / t.t) * ln(c.n / t.t)) / ln(t.n_types)', 6
           )} AS normalized
    FROM counts c JOIN tot t ON c.cohort = t.cohort
    GROUP BY c.cohort, t.n_types
    ORDER BY c.cohort
    """,
)
def stats_entropy_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type distribution per user cohort — the
    behavioral-diversity audit (bot cohorts collapse toward 0; uniform
    browsing approaches ln(n_types)); `normalized` divides by the max so
    cohorts with different type supports compare. Two grouped aggregates,
    both mergeable — the same shard-rollup property as the data card."""
    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("cohort"), "event_type"
    )
    counts = e.groupBy("cohort", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tot = counts.groupBy("cohort").agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).cast("bigint").alias("n_types")
    )
    p = F.col("n") / F.col("t")
    return (
        counts.join(tot, "cohort")
        .groupBy("cohort", "n_types")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            # a 1-type cohort (sparse-world fuzz) has ln(n_types) = 0:
            # DuckDB division by zero yields NULL, Spark ANSI raises —
            # guard to the shared NULL contract (max-entropy normalization
            # undefined on a single-symbol alphabet)
            F.round(
                F.when(
                    F.col("n_types") > 1,
                    -F.sum(p * F.log(p))
                    / F.log(F.col("n_types").cast("double")),
                ),
                6,
            ).alias("normalized"),
        )
        .select("cohort", "n_types", "entropy_nats", "normalized")
        .transform(sort_result, "cohort")
    )


@register(
    "text_zipf_law_fit",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    freq AS (
        SELECT w, CAST(COUNT(*) AS DOUBLE) AS f FROM tok
        WHERE w <> '' GROUP BY w
    ),
    ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, w ASC) AS r FROM freq
    ),
    top AS (SELECT ln(r) AS lr, ln(f) AS lf FROM ranked WHERE r <= 500)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(regr_slope(lf, lr), 6) AS zipf_slope,
           ROUND(regr_intercept(lf, lr), 6) AS zipf_intercept,
           ROUND(regr_r2(lf, lr), 6) AS r2
    FROM top
    """,
)
def text_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency table: OLS slope of log(freq)
    on log(rank) for the top 500 tokens, via the SQL regression aggregates
    (regr_slope / regr_intercept / regr_r2 — identical definitions in both
    engines). Natural text lands near slope −1 with r² ≈ 0.9+; corpora that
    don't are synthetic, templated, or spam-heavy — a one-row corpus-health
    screen next to the Benford audit for numerics.

    Scale shape: one explode + one token aggregate (partial-aggregated),
    one 500-row top-k window, one single-row regression aggregate."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("w")).filter(
        F.col("w") != ""
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("f"))
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("w")))
    ).filter(F.col("r") <= 500)
    top = ranked.select(F.log("r").alias("lr"), F.log("f").alias("lf"))
    return top.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(F.regr_slope("lf", "lr"), 6).alias("zipf_slope"),
        F.round(F.regr_intercept("lf", "lr"), 6).alias("zipf_intercept"),
        F.round(F.regr_r2("lf", "lr"), 6).alias("r2"),
    )


@register(
    "features_quantile_normalize",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, n_chars FROM documents
        WHERE n_chars IS NOT NULL
    ),
    s AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn_s,
               COUNT(*) OVER (PARTITION BY source) AS cnt_s,
               COUNT(*) OVER () AS n_total
        FROM d
    ),
    g AS (
        SELECT n_chars AS gval,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn_g
        FROM d
    ),
    t AS (
        SELECT doc_id, source, n_chars,
               CASE WHEN cnt_s = 1 THEN 1
                    ELSE ((rn_s - 1) * (n_total - 1)) // (cnt_s - 1) + 1
               END AS tgt
        FROM s
    )
    SELECT t.doc_id, t.source, t.n_chars,
           CAST(g.gval AS BIGINT) AS norm_chars
    FROM t JOIN g ON g.rn_g = t.tgt
    ORDER BY doc_id
    """,
)
def features_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile normalization: each doc's length score is replaced by
    the GLOBAL distribution's value at the doc's within-source quantile —
    the calibration step that makes a single "keep if score > τ" threshold
    mean the same thing across sources whose raw score scales differ
    (crawl A's chars ≠ crawl B's chars). All rank math is integer
    (floor-division target index), so both engines pick identical values.

    Scale shape: one shuffle per window key (source, then the global
    order). The global row_number is the exact-math form; at 100 TB swap it
    for approx_percentile boundaries exactly as ``curriculum_quality_phases``
    documents — the per-source side is unchanged."""
    from pyspark.sql import Window

    # a doc with no length has no quantile: excluded on both sides —
    # otherwise the rank windows shift by the null count on Spark only
    # (NULL-world fuzz, r6)
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .filter(F.col("n_chars").isNotNull())
    )
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    s = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rn_s"),
        F.count("*").over(Window.partitionBy("source")).alias("cnt_s"),
        F.count("*").over(Window.partitionBy()).alias("n_total"),
    )
    g = d.select(
        F.col("n_chars").alias("gval"),
        F.row_number().over(Window.orderBy("n_chars", "doc_id")).alias("rn_g"),
    )
    t = s.select(
        "doc_id",
        "source",
        "n_chars",
        F.when(F.col("cnt_s") == 1, F.lit(1))
        .otherwise(
            F.expr("CAST((rn_s - 1) * (n_total - 1) AS BIGINT) div (cnt_s - 1)")
            + 1
        )
        .alias("tgt"),
    )
    return (
        t.join(g, t.tgt == g.rn_g)
        .select("doc_id", "source", "n_chars", F.col("gval").cast("bigint").alias("norm_chars"))
        .orderBy("doc_id")
    )


@register(
    "pack_padding_waste_audit",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS tc FROM documents
    ),
    naive AS (
        SELECT tc, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS b
        FROM d
    ),
    srt AS (
        SELECT tc, (ROW_NUMBER() OVER (ORDER BY tc, doc_id) - 1) // 32 AS b
        FROM d
    ),
    nb AS (
        SELECT b, COUNT(*) AS n, MAX(tc) AS mx, SUM(tc) AS s FROM naive
        GROUP BY b
    ),
    sb AS (
        SELECT b, COUNT(*) AS n, MAX(tc) AS mx, SUM(tc) AS s FROM srt
        GROUP BY b
    )
    SELECT * FROM (
        SELECT 'naive_by_id' AS policy,
               CAST(COUNT(*) AS BIGINT) AS n_batches,
               CAST(SUM(s) AS BIGINT) AS real_tokens,
               CAST(SUM(n * mx) AS BIGINT) AS padded_tokens,
               ROUND(1.0 - SUM(s) * 1.0 / SUM(n * mx), 6) AS waste_ratio
        FROM nb
        UNION ALL
        SELECT 'length_sorted', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(s) AS BIGINT), CAST(SUM(n * mx) AS BIGINT),
               ROUND(1.0 - SUM(s) * 1.0 / SUM(n * mx), 6)
        FROM sb
    ) ORDER BY policy
    """,
)
def pack_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit: fixed-size training batches (32 docs) padded to
    the longest member — what fraction of compute is padding under arrival
    order vs length-sorted batching? The measurement that justifies a
    length-bucketed DataLoader (and the fixed-batch complement of
    ``pack_sequences_budget``'s token-budget packing).

    Scale shape: both policies are rank → integer-div batch assignment →
    per-batch max/sum → 2-row rollup. The global row_number is exact-math
    scaffolding for the audit; production assignment at 100 TB uses
    range-partitioned sort (length-sorted) or the id hash (naive) with
    per-partition batch numbering."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("tc")
    )

    def policy(name: str, order_cols) -> DataFrame:
        b = F.expr(
            "CAST(rn - 1 AS BIGINT) div 32"
        )
        ranked = d.select(
            "tc", F.row_number().over(Window.orderBy(*order_cols)).alias("rn")
        ).select("tc", b.alias("b"))
        per_batch = ranked.groupBy("b").agg(
            F.count("*").alias("n"), F.max("tc").alias("mx"), F.sum("tc").alias("s")
        )
        return per_batch.agg(
            F.lit(name).alias("policy"),
            F.count("*").cast("bigint").alias("n_batches"),
            F.sum("s").cast("bigint").alias("real_tokens"),
            F.sum(F.col("n") * F.col("mx")).cast("bigint").alias("padded_tokens"),
            F.round(
                1.0 - F.sum("s") / F.sum(F.col("n") * F.col("mx")), 6
            ).alias("waste_ratio"),
        )
    naive = policy("naive_by_id", [F.asc("doc_id")])
    srt = policy("length_sorted", [F.asc("tc"), F.asc("doc_id")])
    return naive.unionAll(srt).orderBy("policy")


@register(
    "udtf_polymorphic_windows",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id < 30
    )
    SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
           t[p] AS tok1, t[p + 1] AS tok2, t[p + 2] AS tok3
    FROM toks CROSS JOIN LATERAL (
        SELECT unnest(range(1, len(t) - 1)) AS p
    )
    ORDER BY doc_id, pos
    """,
)
def udtf_polymorphic_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze()``): the OUTPUT SCHEMA is
    computed at plan time from the literal window width — tok1..tokN columns
    for sliding_tokens(text, N). This is the dynamic-schema half of §2.10 U5
    (``udtf_sentence_split`` pins the fixed-schema half): schema-from-args is
    what lets one table function serve any window width without codegen.
    Registered at N=3 so the DuckDB oracle can replay the exact output
    (list-index lateral unnest)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    try:
        from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult
    except ImportError:  # pragma: no cover
        from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult

    class SlidingTokens:
        @staticmethod
        def analyze(text: "AnalyzeArgument", n: "AnalyzeArgument") -> "AnalyzeResult":
            width = int(n.value)
            fields = [StructField("pos", LongType())] + [
                StructField(f"tok{i + 1}", StringType()) for i in range(width)
            ]
            return AnalyzeResult(schema=StructType(fields))

        def eval(self, text: str, n: int):
            toks = (text or "").split(" ")
            for p in range(max(0, len(toks) - n + 1)):
                yield (p, *toks[p : p + n])

    spark.udtf.register("sliding_tokens", udtf(SlidingTokens, useArrow=True))
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    docs.createOrReplaceTempView("poly_docs")
    return spark.sql(
        """
        SELECT /*+ REPARTITION(1) */ d.doc_id, w.pos, w.tok1, w.tok2, w.tok3
        FROM poly_docs d, LATERAL sliding_tokens(d.text, 3) w
        ORDER BY d.doc_id, w.pos
        """
    )


@register(
    "udaf_arrow_source_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {mean_chars} AS mean_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY source ORDER BY source
    """.replace("{mean_chars}", exact_round_avg_sql("n_chars", 4)),
)
def udaf_arrow_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE grouped map (Spark 4 ``applyInArrow``): per-source doc
    stats computed with pyarrow.compute kernels directly on the Arrow batch —
    no pandas materialization at all, the zero-copy sibling of
    ``udaf_label_centroids``'s applyInPandas. Use this shape when the
    per-group kernel is expressible in Arrow compute (or hands the buffers
    to a C++/Rust lib); pandas only buys you numpy ergonomics and costs a
    conversion. Oracle is the plain SQL aggregate — the point under test is
    the Arrow path producing identical results."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(tbl: pa.Table) -> pa.Table:
        chars = tbl.column("n_chars")
        # the mean divides by the NON-NULL count (pc.sum skips nulls, so
        # dividing by num_rows would silently deflate the mean on a
        # NULL-carrying corpus while the oracle's AVG does not —
        # NULL-world fuzz, r6); n_docs stays the COUNT(*) row count
        n_vals = len(chars) - chars.null_count
        return pa.table(
            {
                "source": pa.array([tbl.column("source")[0].as_py()], pa.string()),
                "n_docs": pa.array([tbl.num_rows], pa.int64()),
                "n_vals": pa.array([n_vals], pa.int64()),
                "sum_chars": pa.array([pc.sum(chars).as_py()], pa.int64()),
                "max_chars": pa.array([pc.max(chars).as_py()], pa.int64()),
            }
        )

    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    return (
        d.groupBy("source")
        .applyInArrow(
            stats,
            schema="source string, n_docs bigint, n_vals bigint,"
            " sum_chars bigint, max_chars bigint",
        )
        # finalize the mean JVM-side from the EXACT integer sum the kernel
        # emitted: an int/int mean can sit exactly on a 4-dp half-way point,
        # where double ROUND is engine-dependent (functions/exact.py)
        .withColumn(
            "mean_chars", exact_round_ratio(F.col("sum_chars"), F.col("n_vals"), 4)
        )
        .select("source", "n_docs", "mean_chars", "max_chars")
        .transform(sort_result, "source")
    )


@register(
    "stats_key_skew_profiler",
    oracle="""
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    ),
    blocks AS (
        SELECT cnt, CAST(COUNT(*) AS BIGINT) AS m
        FROM counts GROUP BY cnt
    ),
    cum AS (
        SELECT cnt, m,
               COALESCE(SUM(m) OVER (
                   ORDER BY cnt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS keys_before
        FROM blocks
    ),
    gini_terms AS (
        SELECT SUM(CAST(cnt AS HUGEINT)
                   * (CAST(keys_before AS HUGEINT) * m
                      + CAST(m AS HUGEINT) * (m + 1) // 2)) AS sum_rank_x
        FROM cum
    ),
    top10 AS (
        SELECT SUM(cnt) AS s FROM (
            SELECT cnt FROM counts ORDER BY cnt DESC, user_id ASC LIMIT 10
        )
    ),
    ranked_cnt AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt NULLS LAST) AS rn,
               COUNT(cnt) OVER () AS n
        FROM counts
    ),
    pct AS (
        SELECT MIN(CASE WHEN rn = (n + 1) // 2 THEN cnt END) AS med,
               MIN(CASE WHEN rn = (99 * n + 99) // 100 THEN cnt END) AS p99
        FROM ranked_cnt
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               SUM(cnt) AS n_rows,
               MAX(cnt) AS max_cnt
        FROM counts
    )
    SELECT a.n_keys,
           CAST(a.n_rows AS BIGINT) AS n_rows,
           {r_top1} AS top1_share,
           {r_top10} AS top10_share,
           {r_gini} AS gini,
           {r_tail} AS p99_over_median
    FROM agg a, gini_terms g, top10 t, pct p
    """.replace(
        "{r_top1}", exact_round_ratio_sql("a.max_cnt", "a.n_rows", 6)
    ).replace(
        "{r_top10}", exact_round_ratio_sql("t.s", "a.n_rows", 6)
    ).replace(
        "{r_gini}",
        exact_round_ratio_sql(
            "(2 * g.sum_rank_x"
            " - (CAST(a.n_keys AS HUGEINT) + 1) * a.n_rows)",
            "(CAST(a.n_keys AS HUGEINT) * a.n_rows)",
            6,
        ),
    ).replace(
        "{r_tail}", exact_round_ratio_sql("p.p99", "p.med", 6)
    ),
)
def stats_key_skew_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic over ``events.user_id`` — the profile you
    run BEFORE picking a join/agg strategy on a key: top-1/top-10 key share
    (is one whale going to serialize a task?), the Gini coefficient of the
    key-frequency distribution (0 = uniform, →1 = one key owns everything),
    and p99/median of per-key row counts. These are the numbers that decide
    between a plain shuffle, salting, and AQE skew-join.

    Scale shape: the raw scan collapses to one row per key, then to one row
    per DISTINCT COUNT VALUE — the Gini rank sum is computed over tied
    blocks (rank range of a block = keys_before·m + m(m+1)/2), so the only
    windows run over |distinct count values| rows, never a global sort.
    The top-10 sum and the DISCRETE median/p99 are read off the blocks
    (a block holds key ranks (keys_before, keys_before + m]) — and every
    published share/ratio, the Gini included, is an exact integer rational
    (functions/exact.py): per-key counts are integers, so a rounded double
    division here is the redraw-fuzz boundary class, and the engines'
    percentile interpolation at the non-dyadic 0.99 is the
    `events_winsorized_stats` class."""
    from pyspark.sql import Window

    blocks = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("cnt")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    cum = blocks.select(
        "cnt",
        "m",
        F.coalesce(
            F.sum("m").over(
                Window.orderBy("cnt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("keys_before"),
        F.sum("m").over(Window.partitionBy()).alias("nn"),
    )

    def at_rank(rank: str):
        """The count at ascending key rank ``rank`` (a discrete order
        statistic: the block whose rank range holds it)."""
        return F.min(
            F.when(F.expr(f"{rank} > keys_before AND {rank} <= keys_before + m"), F.col("cnt"))
        )

    # the rank-sum accumulates keys_before·m products (up to |keys|² per
    # term) — every factor is widened to DECIMAL(38,0) BEFORE its multiply
    # (ADVICE r5: an int64 inner product wraps silently in non-ANSI Spark
    # near ~3e9 keys while DuckDB throws), like the oracle's HUGEINT. The
    # triangular term splits on parity (m or m+1 is even) so it stays pure
    # integer decimal arithmetic with no div-result narrowing.
    agg = cum.agg(
        F.coalesce(F.sum("m"), F.lit(0)).cast("bigint").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("m")).alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * (
                F.col("keys_before").cast("decimal(38,0)") * F.col("m")
                + F.expr(
                    "CASE WHEN m % 2 = 0"
                    " THEN cast(m div 2 as decimal(38,0)) * (m + 1)"
                    " ELSE cast((m + 1) div 2 as decimal(38,0)) * m END"
                )
            )
        ).alias("sum_rank_x"),
        # the ten largest counts: each block contributes its keys that rank
        # among the top 10 (ties are equal counts, so the sum is exact)
        F.sum(
            F.col("cnt")
            * F.least(
                F.col("m"),
                F.greatest(F.lit(0), 10 - (F.col("nn") - F.col("keys_before") - F.col("m"))),
            )
        ).alias("s"),
        at_rank("(nn + 1) div 2").alias("med"),
        at_rank("(99 * nn + 99) div 100").alias("p99"),
    )
    wide = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gini_num = 2 * F.col("sum_rank_x") - (
        wide(F.col("n_keys")) + 1
    ) * F.col("n_rows")
    gini_den = wide(F.col("n_keys")) * F.col("n_rows")
    return (
        agg.select(
            "n_keys",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            exact_round_ratio(F.col("max_cnt"), F.col("n_rows"), 6).alias(
                "top1_share"
            ),
            exact_round_ratio(F.col("s"), F.col("n_rows"), 6).alias(
                "top10_share"
            ),
            exact_round_ratio(gini_num, gini_den, 6).alias("gini"),
            exact_round_ratio(F.col("p99"), F.col("med"), 6).alias(
                "p99_over_median"
            ),
        )
    )


@register(
    "dq_column_profile",
    oracle="""
    WITH profile AS (
        SELECT 'o_orderkey' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
               COUNT(DISTINCT o_custkey),
               CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus),
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
               COUNT(DISTINCT ROUND(o_totalprice, 2)),
               CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR),
               CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
               COUNT(DISTINCT o_orderpriority),
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders
    )
    SELECT column_name, n_rows, n_nonnull,
           ROUND(1.0 - n_nonnull * 1.0 / n_rows, 6) AS null_rate,
           n_distinct,
           ROUND(n_distinct * 1.0 / n_nonnull, 6) AS distinct_ratio,
           min_value, max_value
    FROM profile
    ORDER BY column_name
    """,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic per-column data profile in long format — the table-level
    data card every ingestion job emits: null rate (completeness), distinct
    count + distinct ratio (key-ness / cardinality class), and min/max as
    strings (range sanity). The long format means downstream checks diff
    profiles across loads without schema coupling.

    ONE pass over the scan computes every per-column aggregate except the
    exact distinct counts; Spark plans the multi-distinct via a single
    Expand (one shuffle), not one scan per column. At 1e12 rows swap
    `approx_count_distinct` in — same plan minus the Expand. min/max of
    doubles round at 2 dp before the string cast so both engines print
    identically."""
    price = F.round(F.col("o_totalprice"), 2)
    cols = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": price,
        "o_orderpriority": F.col("o_orderpriority"),
    }
    # one aggregate profiles every column; stack turns it into a row each
    stats = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for i, (name, c) in enumerate(cols.items()):
        stats += [
            F.count(name).cast("bigint").alias(f"nn{i}"),
            F.countDistinct(c).cast("bigint").alias(f"nd{i}"),
            F.min(c).cast("string").alias(f"lo{i}"),
            F.max(c).cast("string").alias(f"hi{i}"),
        ]
    stack = ", ".join(f"'{name}', nn{i}, nd{i}, lo{i}, hi{i}" for i, name in enumerate(cols))
    out = (
        load_table(spark, sf_dir, "orders")
        .agg(*stats)
        .select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack})"
                " AS (column_name, n_nonnull, n_distinct, min_value, max_value)"
            ),
        )
    )
    return out.select(
        "column_name",
        "n_rows",
        "n_nonnull",
        F.round(1.0 - F.col("n_nonnull") / F.col("n_rows"), 6).alias(
            "null_rate"
        ),
        "n_distinct",
        F.round(F.col("n_distinct") / F.col("n_nonnull"), 6).alias(
            "distinct_ratio"
        ),
        "min_value",
        "max_value",
    ).orderBy("column_name")


@register(
    "udtf_table_argument_sessions",
    oracle="""
    WITH seq AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               LAG(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_ts
        FROM events WHERE user_id < 25
    ),
    marked AS (
        SELECT user_id,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('microsecond', prev_ts, ts) > 1800000000
                    THEN 1 ELSE 0 END AS is_start
        FROM seq
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_start) AS BIGINT) AS n_sessions
    FROM marked
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def udtf_table_argument_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 UDTF with a partitioned TABLE ARGUMENT:
    ``session_counter(TABLE(events) PARTITION BY user_id ORDER BY ts)`` —
    the engine feeds each partition's rows to one UDTF instance IN ORDER
    and calls ``terminate()`` at partition end. This is the third UDTF
    surface next to fixed-schema (`udtf_sentence_split`) and polymorphic
    (`udtf_polymorphic_windows`): the table-valued shape that subsumes
    hand-rolled applyInPandas for sequential per-key logic, with the
    30-minute session-gap recurrence as the workload (oracle = the window
    twin from `events_sessionization`).

    Scale: PARTITION BY is a real exchange on user_id, ORDER BY a
    per-partition sort — exactly the one shuffle the window form uses; the
    UDTF runs Arrow-batched per partition."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, n_events bigint, n_sessions bigint",
        useArrow=True,
    )
    class SessionCounter:
        def __init__(self):
            self.user_id = None
            self.n = 0
            self.sessions = 0
            self.prev = None

        def eval(self, row):
            self.user_id = row["user_id"]
            ts = row["ts"]
            self.n += 1
            if self.prev is None or (
                (ts - self.prev).total_seconds() > 1800
            ):
                self.sessions += 1
            self.prev = ts

        def terminate(self):
            if self.user_id is not None:
                yield (self.user_id, self.n, self.sessions)

    spark.udtf.register("session_counter", SessionCounter)
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 25)
    e.select("user_id", "ts", "event_id").createOrReplaceTempView(
        "ta_events"
    )
    return spark.sql(
        """
        SELECT /*+ REPARTITION(1) */ user_id, n_events, n_sessions
        FROM session_counter(
            TABLE(ta_events) PARTITION BY user_id ORDER BY (ts, event_id)
        )
        ORDER BY user_id
        """
    )


@register(
    "stats_ab_test_welch",
    oracle="""
    WITH assigned AS (
        SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                         ::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    arms AS (
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS mean,
               var_samp(value) AS var
        FROM assigned GROUP BY arm
    ),
    wide AS (
        SELECT
            (SELECT n FROM arms WHERE arm = 'A') AS n_a,
            (SELECT n FROM arms WHERE arm = 'B') AS n_b,
            (SELECT mean FROM arms WHERE arm = 'A') AS mean_a,
            (SELECT mean FROM arms WHERE arm = 'B') AS mean_b,
            (SELECT var FROM arms WHERE arm = 'A') AS var_a,
            (SELECT var FROM arms WHERE arm = 'B') AS var_b
    )
    SELECT n_a, n_b,
           ROUND(mean_a, 4) AS mean_a,
           ROUND(mean_b, 4) AS mean_b,
           ROUND(mean_a - mean_b, 4) AS diff,
           /* se2 = 0 (both arms zero-variance, e.g. ties-world lattice
              snap) -> NULL on both engines: DuckDB's x/0.0 is NULL anyway,
              the CASE documents it; Spark would ANSI-raise DIVIDE_BY_ZERO
              without the twin F.when guard (ADVICE r6) */
           CASE WHEN var_a / n_a + var_b / n_b > 0 THEN
               ROUND((mean_a - mean_b)
                     / SQRT(var_a / n_a + var_b / n_b), 4) END AS welch_t,
           CASE WHEN var_a / n_a + var_b / n_b > 0 THEN
               ROUND(POW(var_a / n_a + var_b / n_b, 2)
                     / (POW(var_a / n_a, 2) / (n_a - 1)
                        + POW(var_b / n_b, 2) / (n_b - 1)), 2) END AS welch_df,
           CASE WHEN var_a / n_a + var_b / n_b > 0 THEN
               ROUND((mean_a - mean_b)
                     / SQRT(((n_a - 1) * var_a + (n_b - 1) * var_b)
                            / (n_a + n_b - 2)), 4) END AS cohens_d
    FROM wide
    """,
)
def stats_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test analysis with DETERMINISTIC hash assignment: users split
    into arms by id-hash parity (the same salted-hash discipline as the
    train/test splitter — reproducible across engines, runs, and re-scans,
    which per-row RNG is not), then Welch's t statistic on purchase value
    with the Satterthwaite degrees of freedom and Cohen's d effect size.
    Since arms are hash-random, the true effect is 0 — the query IS the
    A/A calibration run experimenters use to validate their pipeline (a
    |t| ≫ 2 here would mean broken bucketing or leaked correlation).

    Scale: one filtered scan → two-group aggregate (mergeable moments);
    everything after is arithmetic on a 2-row frame."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    arms = (
        e.select(arm.alias("arm"), "value")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
    )
    # widen via a 1-row aggregate, NOT filter+crossJoin: an arm can be
    # EMPTY (sparse-world fuzz — every surviving purchase hashed to one
    # arm), and a crossJoin against the empty side collapses the result to
    # 0 rows while the oracle's scalar subqueries yield 1 row of NULL
    # stats. max(when) reproduces the scalar-subquery semantics exactly.
    wide = arms.agg(
        *[
            F.max(F.when(F.col("arm") == arm_v, F.col(c))).alias(
                f"{c}_{arm_v.lower()}"
            )
            for arm_v in ("A", "B")
            for c in ("n", "mean", "var")
        ]
    )
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    # Degenerate contract (ADVICE r6): BOTH arms zero-variance (ties-world
    # lattice snap makes every purchase value equal) gives se2 = 0, where
    # Spark ANSI raises DIVIDE_BY_ZERO but DuckDB's float x/0.0 is NULL.
    # Guard all three ratios on se2 > 0 — se2 = 0 iff both variances are 0
    # iff the Satterthwaite and pooled denominators are 0 too (n >= 2; an
    # n = 1 arm makes var_samp and hence se2 NULL, which also lands in the
    # NULL branch on both engines).
    return wide.select(
        "n_a",
        "n_b",
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round(F.col("mean_a") - F.col("mean_b"), 4).alias("diff"),
        F.when(
            se2 > 0,
            F.round((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2), 4),
        ).alias("welch_t"),
        F.when(
            se2 > 0,
            F.round(
                F.pow(se2, 2)
                / (
                    F.pow(F.col("var_a") / F.col("n_a"), 2)
                    / (F.col("n_a") - 1)
                    + F.pow(F.col("var_b") / F.col("n_b"), 2)
                    / (F.col("n_b") - 1)
                ),
                2,
            ),
        ).alias("welch_df"),
        F.when(
            se2 > 0,
            F.round(
                (F.col("mean_a") - F.col("mean_b"))
                / F.sqrt(
                    (
                        (F.col("n_a") - 1) * F.col("var_a")
                        + (F.col("n_b") - 1) * F.col("var_b")
                    )
                    / (F.col("n_a") + F.col("n_b") - 2)
                ),
                4,
            ),
        ).alias("cohens_d"),
    )


@register(
    "stats_ks_two_sample",
    oracle="""
    WITH a AS (
        SELECT value FROM events
        WHERE event_type = 'click' AND value IS NOT NULL
    ),
    b AS (
        SELECT value FROM events
        WHERE event_type = 'view' AND value IS NOT NULL
    ),
    pooled AS (
        SELECT value, 1.0 AS in_a, 0.0 AS in_b FROM a
        UNION ALL
        SELECT value, 0.0, 1.0 FROM b
    ),
    stepped AS (
        SELECT value,
               SUM(in_a) OVER (
                   ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) / (SELECT COUNT(*) FROM a) AS f_a,
               SUM(in_b) OVER (
                   ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) / (SELECT COUNT(*) FROM b) AS f_b
        FROM pooled
    ),
    at_points AS (
        /* ECDFs are right-continuous: evaluate at each distinct value's
           LAST pooled row so both cumulative counts include every tie */
        SELECT value, MAX(f_a) AS f_a, MAX(f_b) AS f_b
        FROM stepped GROUP BY value
    )
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
           ROUND(MAX(ABS(f_a - f_b)), 6) AS ks_d,
           ROUND(MAX(ABS(f_a - f_b))
                 / (1.358 * SQRT((
                       (SELECT COUNT(*) FROM a)
                       + (SELECT COUNT(*) FROM b)) * 1.0
                     / ((SELECT COUNT(*) FROM a)
                        * (SELECT COUNT(*) FROM b)))), 4)
               AS d_over_crit05
    FROM at_points
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the click and view
    value distributions: D = max |ECDF_a − ECDF_b|, with the ratio to the
    α=0.05 critical value (1.358·√((n_a+n_b)/(n_a·n_b))) — ratio > 1 ⇒
    distributions differ. The CONTINUOUS-distribution drift gate next to
    the categorical ones (`text_corpus_drift_kl`, `stats_chi2_lang_source`)
    — the test run before accepting a new data source whose score
    distribution must match production.

    Shape: both ECDFs come from ONE running-sum window over the pooled
    sorted sample (indicator columns), collapsed to each distinct value's
    right-continuous step. The global sort is the audit form; at 1e9+
    rows evaluate D on approx-quantile grid points instead — same max-diff
    reduction, bounded frame."""
    from pyspark.sql import Window

    # an ECDF is over OBSERVED values: NULLs carry no position on the
    # value axis, and the engines disagree on where NULL order keys sort
    # in the pooled running sum (NULL-world fuzz, r6)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    a = e.filter(F.col("event_type") == "click").select("value")
    b = e.filter(F.col("event_type") == "view").select("value")
    pooled = a.select(
        "value", F.lit(1.0).alias("in_a"), F.lit(0.0).alias("in_b")
    ).unionAll(
        b.select("value", F.lit(0.0).alias("in_a"), F.lit(1.0).alias("in_b"))
    )
    # group sizes stay IN the plan (unbounded-window totals over the same
    # sort the ECDF needs) — no driver-side count() feeding literals
    tot = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    # either sample CAN be empty (sparse-world fuzz: 5-event corpus with no
    # 'click' rows): its ECDF denominator is 0 — DuckDB yields NULL, Spark
    # ANSI raises. Guard every division to the shared NULL contract; the
    # statistic is then NULL (KS is undefined against an empty sample)
    # while the observed counts still publish.
    ta, tb = F.sum("in_a").over(tot), F.sum("in_b").over(tot)
    stepped = pooled.select(
        "value",
        F.when(ta > 0, F.sum("in_a").over(w) / ta).alias("f_a"),
        F.when(tb > 0, F.sum("in_b").over(w) / tb).alias("f_b"),
        ta.alias("na"),
        tb.alias("nb"),
    )
    at_points = stepped.groupBy("value").agg(
        F.max("f_a").alias("f_a"),
        F.max("f_b").alias("f_b"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    d = F.max(F.abs(F.col("f_a") - F.col("f_b")))
    crit = 1.358 * F.sqrt(
        F.when(
            F.first("na") * F.first("nb") > 0,
            (F.first("na") + F.first("nb")) / (F.first("na") * F.first("nb")),
        )
    )
    return at_points.agg(
        F.coalesce(F.first("na"), F.lit(0.0)).cast("bigint").alias("n_a"),
        F.coalesce(F.first("nb"), F.lit(0.0)).cast("bigint").alias("n_b"),
        F.round(d, 6).alias("ks_d"),
        F.round(d / crit, 4).alias("d_over_crit05"),
    )


@register(
    "dq_freshness_audit",
    oracle="""
    WITH per_source AS (
        SELECT source,
               MAX(CAST(e.ts AS TIMESTAMP)) AS latest
        FROM events e
        JOIN documents d ON d.doc_id = e.event_id % 500
        GROUP BY source
    ),
    global_max AS (SELECT MAX(latest) AS g FROM per_source)
    SELECT source,
           CAST(latest AS VARCHAR) AS latest_event,
           CAST(date_diff('microsecond', latest, (SELECT g FROM global_max))
                // 60000000 AS BIGINT) AS lag_minutes
    FROM per_source
    ORDER BY source
    """,
)
def dq_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data freshness: each source's latest event time and its
    lag behind the freshest source — the staleness SLA row on every
    ingestion dashboard (a source whose lag grows monotonically has a
    stalled feed). Sources attach via the synthetic doc link (event_id
    mod), standing in for the real per-feed partition column; the plan is
    one broadcast-joined aggregate either way."""
    e = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_source = (
        e.select((F.col("event_id") % 500).alias("doc_id"), "ts")
        .join(F.broadcast(d), "doc_id")
        .groupBy("source")
        .agg(F.max("ts").alias("latest"))
    )
    from pyspark.sql import Window

    return (
        per_source.withColumn("g", F.max("latest").over(Window.partitionBy()))
        .select(
            "source",
            F.col("latest").cast("string").alias("latest_event"),
            F.expr(
                "timestampdiff(MICROSECOND, latest, g) div 60000000"
            )
            .cast("bigint")
            .alias("lag_minutes"),
        )
        .orderBy("source")
    )


@register(
    "stats_mann_whitney_u",
    oracle="""
    WITH pooled AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END
                   AS in_a
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    ranked AS (
        /* average ranks over ties: rank() spans + tie-count arithmetic */
        SELECT in_a,
               rank() OVER (ORDER BY value) AS r0,
               COUNT(*) OVER (PARTITION BY value) AS tie_n
        FROM pooled
    ),
    avg_ranked AS (
        SELECT in_a, r0 + (tie_n - 1) / 2.0 AS r FROM ranked
    ),
    agg AS (
        SELECT SUM(CASE WHEN in_a = 1.0 THEN r END) AS r_a,
               SUM(in_a) AS n_a,
               SUM(1.0 - in_a) AS n_b
        FROM avg_ranked
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND(r_a - n_a * (n_a + 1) / 2.0, 2) AS u_a,
           ROUND((r_a - n_a * (n_a + 1) / 2.0) / (n_a * n_b), 6)
               AS auc_estimate,
           ROUND(((r_a - n_a * (n_a + 1) / 2.0) - n_a * n_b / 2.0)
                 / SQRT(n_a * n_b * (n_a + n_b + 1) / 12.0), 4) AS z_score
    FROM agg
    """,
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) between click and view values — the
    nonparametric location test next to Welch's t (`stats_ab_test_welch`
    assumes means matter; U only assumes ordering) with two readings:
    U/(n_a·n_b) IS the AUC of "value separates the groups", and the normal
    z approximation gates significance. Tie handling = average ranks
    (rank() span + tie-count arithmetic — identical on both engines,
    unlike engine-specific dense/percent ranks).

    One global sort window over the pooled values (audit form; bucketed
    rank approximation is the 1e9-row swap), then a 1-row reduction."""
    from pyspark.sql import Window

    # rank statistics are over OBSERVED values (NULL has no rank; the
    # engines disagree on where NULL order keys sort) — NULL-world fuzz, r6
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    )
    pooled = e.select(
        "value",
        F.when(F.col("event_type") == "click", 1.0)
        .otherwise(0.0)
        .alias("in_a"),
    )
    r0 = F.rank().over(Window.orderBy("value"))
    tie_n = F.count(F.lit(1)).over(Window.partitionBy("value"))
    avg_ranked = pooled.select(
        "in_a", (r0 + (tie_n - 1) / 2.0).alias("r")
    )
    agg = avg_ranked.agg(
        F.sum(F.when(F.col("in_a") == 1.0, F.col("r"))).alias("r_a"),
        F.sum("in_a").alias("n_a"),
        F.sum(1.0 - F.col("in_a")).alias("n_b"),
    )
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    # either sample CAN be empty (sparse-world fuzz): n_a·n_b = 0 makes the
    # AUC and z denominators 0 — DuckDB yields NULL, Spark ANSI raises.
    # Guard to the shared NULL contract (the test is undefined one-sided).
    nab = F.col("n_a") * F.col("n_b")
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(u_a, 2).alias("u_a"),
        F.round(F.when(nab > 0, u_a / nab), 6).alias("auc_estimate"),
        F.round(
            F.when(
                nab > 0,
                (u_a - nab / 2.0)
                / F.sqrt(nab * (F.col("n_a") + F.col("n_b") + 1) / 12.0),
            ),
            4,
        ).alias("z_score"),
    )


_PERM_N = 20


@register(
    "stats_permutation_test_hashed",
    oracle=f"""
    WITH base AS (
        SELECT event_id, value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
        FROM events WHERE event_type IN ('click', 'view')
    ),
    observed AS (
        SELECT AVG(CASE WHEN is_a = 1 THEN value END)
               - AVG(CASE WHEN is_a = 0 THEN value END) AS d
        FROM base
    ),
    n_a AS (SELECT SUM(is_a) AS k FROM base),
    relabeled AS (
        /* permutation p: keep group sizes by taking the k smallest
           md5(p:event_id) keys as pseudo-group A — a deterministic
           permutation family, reproducible across engines */
        SELECT p.p, b.value,
               CASE WHEN row_number() OVER (
                        PARTITION BY p.p
                        ORDER BY md5(CAST(p.p AS VARCHAR) || ':' ||
                                     CAST(b.event_id AS VARCHAR)),
                                 b.event_id
                    ) <= (SELECT k FROM n_a)
                    THEN 1 ELSE 0 END AS is_a
        FROM base b
        CROSS JOIN (SELECT unnest(range(0, {_PERM_N})) AS p) p
    ),
    null_dist AS (
        SELECT p,
               AVG(CASE WHEN is_a = 1 THEN value END)
               - AVG(CASE WHEN is_a = 0 THEN value END) AS d
        FROM relabeled GROUP BY p
    )
    SELECT CAST({_PERM_N} AS BIGINT) AS n_permutations,
           ROUND((SELECT d FROM observed), 6) AS observed_diff,
           ROUND(AVG(d), 6) AS null_mean_diff,
           ROUND(MAX(ABS(d)), 6) AS null_max_abs_diff,
           CAST(SUM(CASE WHEN ABS(d) >= ABS((SELECT d FROM observed))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme
    FROM null_dist
    """,
)
def stats_permutation_test_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test with a HASH-DERANDOMIZED permutation family: the
    click-vs-view mean difference against 20 label shuffles, where
    shuffle p assigns pseudo-group A to the k smallest md5(p:event_id)
    keys (k = true group size). Distribution-free significance — no
    normality assumption like Welch, no rank reduction like U — and every
    "random" permutation is a pure function of (p, event_id), so the
    whole test replays bit-identically on both engines and across reruns
    (the A-ES reservoir-sampling derandomization trick applied to
    inference). n_as_extreme/20 is the empirical p-value.

    Scale: one scan fans out ×20 via a broadcast permutation axis;
    each permutation is a rank window + two-group mean — at 1e9 rows swap
    the exact rank for a per-permutation hash threshold on k/n (binomial
    group sizes), same mergeable shape."""
    from pyspark.sql import Window

    # spread=True: single-row-group scan; the ×20 permutation fan-out and
    # its per-(p, event_id) md5 sort keys otherwise compute on one core
    e = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isin("click", "view")
    )
    base = e.select(
        "event_id",
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
    )
    observed = base.agg(
        (
            F.avg(F.when(F.col("is_a") == 1, F.col("value")))
            - F.avg(F.when(F.col("is_a") == 0, F.col("value")))
        ).alias("obs_d")
    )
    k = base.agg(F.sum("is_a").alias("k"))
    perms = spark.range(_PERM_N).select(F.col("id").alias("p"))
    rn = F.row_number().over(
        Window.partitionBy("p").orderBy(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("p").cast("string"),
                    F.col("event_id").cast("string"),
                )
            ),
            "event_id",
        )
    )
    relabeled = (
        base.crossJoin(F.broadcast(perms))
        .withColumn("rn", rn)
        .crossJoin(F.broadcast(k))
        .select(
            "p",
            "value",
            F.when(F.col("rn") <= F.col("k"), 1).otherwise(0).alias("is_a"),
        )
    )
    null_dist = relabeled.groupBy("p").agg(
        (
            F.avg(F.when(F.col("is_a") == 1, F.col("value")))
            - F.avg(F.when(F.col("is_a") == 0, F.col("value")))
        ).alias("d")
    )
    return null_dist.crossJoin(F.broadcast(observed)).agg(
        F.lit(_PERM_N).cast("bigint").alias("n_permutations"),
        F.round(F.first("obs_d"), 6).alias("observed_diff"),
        F.round(F.avg("d"), 6).alias("null_mean_diff"),
        F.round(F.max(F.abs(F.col("d"))), 6).alias("null_max_abs_diff"),
        F.sum(
            F.when(
                F.abs(F.col("d")) >= F.abs(F.col("obs_d")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_as_extreme"),
    )


@register(
    "stats_propensity_match_att",
    oracle="""
    WITH users AS (
        SELECT user_id,
               AVG(value) AS avg_value,
               CAST(COUNT(*) AS DOUBLE) AS n_events,
               SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
                   AS outcome,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS treated
        FROM events GROUP BY user_id
    ),
    stats AS (
        SELECT AVG(avg_value) AS m1, stddev_samp(avg_value) AS s1,
               AVG(n_events) AS m2, stddev_samp(n_events) AS s2
        FROM users
    ),
    z AS (
        SELECT u.user_id,
               (u.avg_value - s.m1) / s.s1 AS z1,
               (u.n_events - s.m2) / s.s2 AS z2,
               u.outcome, u.treated
        FROM users u CROSS JOIN stats s
    ),
    matched AS (
        SELECT t.user_id, t.outcome AS t_outcome,
               c.outcome AS c_outcome,
               ROUND(SQRT(POW(t.z1 - c.z1, 2) + POW(t.z2 - c.z2, 2)), 6)
                   AS dist,
               row_number() OVER (
                   PARTITION BY t.user_id
                   ORDER BY ROUND(SQRT(POW(t.z1 - c.z1, 2)
                                       + POW(t.z2 - c.z2, 2)), 6) ASC,
                            c.user_id ASC
               ) AS rn
        FROM (SELECT * FROM z WHERE treated = 1) t
        CROSS JOIN (SELECT * FROM z WHERE treated = 0) c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched_pairs,
           {avg_t} AS treated_mean_outcome,
           {avg_c} AS control_mean_outcome,
           {avg_att} AS att,
           ROUND(AVG(dist), 6) AS avg_match_distance
    FROM matched WHERE rn = 1
    """.replace("{avg_t}", exact_round_avg_int_sql("t_outcome", 4, 2))
    .replace("{avg_c}", exact_round_avg_int_sql("c_outcome", 4, 2))
    .replace("{avg_att}", exact_round_avg_int_sql("t_outcome - c_outcome", 4, 2)),
)
def stats_propensity_match_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate matching with replacement for an ATT estimate: every
    'treated' user (made a purchase) matches the nearest 'control' user in
    standardized (avg event value, event count) space; ATT = mean outcome
    gap over matched pairs, with the mean match distance as the balance
    diagnostic. With-replacement nearest matching is ORDER-FREE (each
    treated unit's argmin is independent), which is what makes it
    expressible as a join+argmin and deterministic — greedy
    without-replacement matching is sequential by construction and
    deliberately not modeled. Distances rounded 6 dp BEFORE the argmin so
    the tie-break (min control id) agrees across engines.

    Scale: covariates standardize via one broadcast stats row; the
    treated×control cross join is the audit form — at 1e9 users the same
    argmin runs per LSH/grid bucket of the covariate space (the KNN-join
    machinery), identical downstream."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.avg("value").alias("avg_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("outcome"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("treated"),
    )
    stats = users.agg(
        F.avg("avg_value").alias("m1"),
        F.stddev_samp("avg_value").alias("s1"),
        F.avg("n_events").alias("m2"),
        F.stddev_samp("n_events").alias("s2"),
    )
    z = users.crossJoin(F.broadcast(stats)).select(
        "user_id",
        ((F.col("avg_value") - F.col("m1")) / F.col("s1")).alias("z1"),
        ((F.col("n_events") - F.col("m2")) / F.col("s2")).alias("z2"),
        "outcome",
        "treated",
    )
    t = z.filter(F.col("treated") == 1).select(
        F.col("user_id").alias("t_id"),
        F.col("z1").alias("tz1"),
        F.col("z2").alias("tz2"),
        F.col("outcome").alias("t_outcome"),
    )
    c = z.filter(F.col("treated") == 0).select(
        F.col("user_id").alias("c_id"),
        F.col("z1").alias("cz1"),
        F.col("z2").alias("cz2"),
        F.col("outcome").alias("c_outcome"),
    )
    dist = F.round(
        F.sqrt(
            F.pow(F.col("tz1") - F.col("cz1"), 2)
            + F.pow(F.col("tz2") - F.col("cz2"), 2)
        ),
        6,
    )
    # NULLS-LAST rank discipline (r7, composed null x sparse world 7278):
    # a control with NULL covariates (all its event values NULLed) has a
    # NULL distance to every treated user. Spark's plain asc puts NULLs
    # FIRST, silently "matching" every treated user to an unmeasurable
    # control (and publishing a NULL mean distance); DuckDB's ASC puts
    # NULLs LAST so real distances win. asc_nulls_last reproduces the
    # oracle exactly: real min distance first, and an all-NULL treated
    # row falls back to the min control id on both engines.
    rn = F.row_number().over(
        Window.partitionBy("t_id").orderBy(
            F.col("dist").asc_nulls_last(), F.col("c_id").asc()
        )
    )
    matched = (
        t.crossJoin(c)
        .withColumn("dist", dist)
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
    )
    return matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched_pairs"),
        # outcomes live on the 2-dp value lattice: their means (and the
        # paired-difference mean) can sit exactly on 4-dp half-way points —
        # exact integer rounding per functions/exact.py
        exact_round_avg_int(F.col("t_outcome"), 4, 2).alias("treated_mean_outcome"),
        exact_round_avg_int(F.col("c_outcome"), 4, 2).alias("control_mean_outcome"),
        exact_round_avg_int(F.col("t_outcome") - F.col("c_outcome"), 4, 2).alias("att"),
        F.round(F.avg("dist"), 6).alias("avg_match_distance"),
    )


# Exact difference-of-cell-means: each cell exposes its cent sum s (exact
# int) and count n; mean_post − mean_pre = (s_q·n_p − s_p·n_q)/(100·n_p·n_q)
# is an integer rational, rounded half-away without ever rounding a double
# (functions/exact.py). Widened to HUGEINT/DECIMAL(38,0) so count-product
# denominators carry no int64 ceiling at the 100 TB end.
_DID_T = exact_round_ratio_sql(
    "(CAST(s_tq AS HUGEINT) * n_tp - CAST(s_tp AS HUGEINT) * n_tq)",
    "(CAST(100 AS HUGEINT) * n_tp * n_tq)",
    4,
)
_DID_C = exact_round_ratio_sql(
    "(CAST(s_cq AS HUGEINT) * n_cp - CAST(s_cp AS HUGEINT) * n_cq)",
    "(CAST(100 AS HUGEINT) * n_cp * n_cq)",
    4,
)


@register(
    "stats_diff_in_diff",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(CAST(ts AS TIMESTAMP)) AS t0,
               MAX(CAST(ts AS TIMESTAMP)) AS t1
        FROM events
    ),
    assigned AS (
        SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                         ::BIGINT % 2 = 0
                    THEN 'treat' ELSE 'control' END AS arm,
               CASE WHEN date_diff('microsecond',
                        (SELECT t0 FROM bounds), CAST(ts AS TIMESTAMP)) * 2
                    < date_diff('microsecond',
                        (SELECT t0 FROM bounds), (SELECT t1 FROM bounds))
                    THEN 'pre' ELSE 'post' END AS period,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    cells AS (
        SELECT arm, period,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS s
        FROM assigned GROUP BY arm, period
    ),
    wide AS (
        SELECT
            (SELECT s FROM cells
             WHERE arm = 'treat' AND period = 'pre') AS s_tp,
            (SELECT n FROM cells
             WHERE arm = 'treat' AND period = 'pre') AS n_tp,
            (SELECT s FROM cells
             WHERE arm = 'treat' AND period = 'post') AS s_tq,
            (SELECT n FROM cells
             WHERE arm = 'treat' AND period = 'post') AS n_tq,
            (SELECT s FROM cells
             WHERE arm = 'control' AND period = 'pre') AS s_cp,
            (SELECT n FROM cells
             WHERE arm = 'control' AND period = 'pre') AS n_cp,
            (SELECT s FROM cells
             WHERE arm = 'control' AND period = 'post') AS s_cq,
            (SELECT n FROM cells
             WHERE arm = 'control' AND period = 'post') AS n_cq,
            (SELECT SUM(n) FROM cells) AS n_total
    )
    SELECT CAST(n_total AS BIGINT) AS n_obs,
           {_DID_T} AS treat_delta,
           {_DID_C} AS control_delta,
           ROUND(({_DID_T}) - ({_DID_C}), 4) AS did_estimate
    FROM wide
    """,
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: purchase-value change across the
    corpus-midpoint period split, treatment vs control (hash arms), with
    DiD = Δtreat − Δcontrol — the parallel-trends estimator that removes
    shared time trends a naive before/after comparison absorbs. Completes
    the causal toolkit: randomized comparison (`stats_ab_test_welch`),
    observational matching (`stats_propensity_match_att`), and panel DiD —
    hash arms make this an A/A calibration whose true effect is 0.

    One 2×2 grouped aggregate off a single filtered scan; the midpoint and
    the four cell aggregates are broadcast-sized. The midpoint bounds come
    from the FULL event stream (the corpus midpoint, matching the oracle),
    not the purchase subset — a ±30 min redraw-fuzz world caught the
    filtered-bounds variant shifting rows across the two engines' different
    midpoints. Cell deltas are exact integer rationals (cent sums over
    counts, functions/exact.py): the difference of two lattice means can
    sit exactly on a 4-dp half-way point, where double rounding is
    engine-dependent."""
    full = load_table(spark, sf_dir, "events")
    e = full.filter(F.col("event_type") == "purchase")
    bounds = full.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        "treat",
    ).otherwise("control")
    period = F.when(
        F.expr("timestampdiff(MICROSECOND, t0, ts)") * 2
        < F.expr("timestampdiff(MICROSECOND, t0, t1)"),
        "pre",
    ).otherwise("post")
    cells = (
        e.crossJoin(F.broadcast(bounds))
        .select(arm.alias("arm"), period.alias("period"), "value")
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("s"),
        )
    )

    def cell(a, p, col):
        return F.first(
            F.when(
                (F.col("arm") == a) & (F.col("period") == p), F.col(col)
            ),
            ignorenulls=True,
        )

    def wide(c):
        return c.cast("decimal(38,0)")

    def delta(a):
        s_pre, n_pre = cell(a, "pre", "s"), cell(a, "pre", "n")
        s_post, n_post = cell(a, "post", "s"), cell(a, "post", "n")
        num = wide(s_post) * n_pre - wide(s_pre) * n_post
        den = wide(F.lit(100)) * n_pre * n_post
        return exact_round_ratio(num, den, 4)

    t_delta, c_delta = delta("treat"), delta("control")
    return cells.agg(
        F.sum("n").cast("bigint").alias("n_obs"),
        t_delta.alias("treat_delta"),
        c_delta.alias("control_delta"),
        # the deltas are exact 4-dp lattice doubles; their difference is
        # never a rounding-boundary case, so a plain round matches DuckDB
        F.round(t_delta - c_delta, 4).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap: derandomized resampling CI at map-side cost
# ---------------------------------------------------------------------------

_BOOT_B = 64
# Poisson(1) CDF — inverse-transform thresholds for the per-(row, replicate)
# resample weight. P(X <= k) for k = 0..6; mass above 7 is ~8e-6 and is
# clamped to 7 identically on both engines.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507642,
)


def _boot_case_sql() -> str:
    arms = " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_POIS1_CDF)
    )
    return f"CASE {arms} ELSE {len(_POIS1_CDF)} END"


@register(
    "stats_poisson_bootstrap_ci",
    oracle=f"""
    WITH draws AS (
        SELECT e.event_type, e.value, t.b,
               ('0x' || substr(md5('boot:' || CAST(t.b AS VARCHAR) || ':' ||
                                   CAST(e.event_id AS VARCHAR)), 1, 8))::BIGINT
                   / 4294967296.0 AS u
        FROM events e CROSS JOIN range(0, {_BOOT_B}) t(b)
    ),
    weighted AS (
        SELECT event_type, b, SUM(w * value) / SUM(w) AS boot_mean
        FROM (SELECT event_type, b, value, {_boot_case_sql()} AS w FROM draws)
        GROUP BY event_type, b
    ),
    base AS (
        /* exact cents-lattice mean: ROUND(AVG(double), 4) is engine-
           dependent when the rational sum/n lands exactly on a 1e-4
           half-way point (38.573750 = 925.77/24 - sparse-world catch,
           r8); the point estimate publishes through the exact-decimal
           half-away-from-zero chain instead. boot_mean quantiles stay
           spark_round_sql doubles: weighted resample means are not
           lattice rationals. */
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               {exact_round_avg_sql('value', 4)} AS mean_value
        FROM events GROUP BY event_type
    )
    SELECT b.event_type, b.n,
           b.mean_value,
           {spark_round_sql('quantile_cont(w.boot_mean, 0.025)', 4)}
               AS boot_lo,
           {spark_round_sql('quantile_cont(w.boot_mean, 0.975)', 4)}
               AS boot_hi,
           {spark_round_sql('stddev_samp(w.boot_mean)', 4)} AS boot_se
    FROM weighted w JOIN base b USING (event_type)
    GROUP BY b.event_type, b.n, b.mean_value
    ORDER BY b.event_type
    """,
)
def stats_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012): the resample count of each row in
    each of B replicates is drawn as Poisson(1) instead of from a shared
    multinomial, which removes the need to know n or to coordinate draws —
    the weight is a pure per-(row, replicate) function, so the entire
    bootstrap is ONE map-side explode followed by ONE keyed aggregate. The
    draw is derandomized through the registry's salted-md5 inverse-CDF
    discipline (same as `stats_permutation_test_hashed`): reproducible
    across engines, runs, partitionings, and retries, which per-row RNG is
    not. Output: per event_type, the point-estimate mean of `value` with
    its 95% bootstrap CI and bootstrap SE.

    Scale: rows x B weight generation is codegen'd arithmetic (no RNG
    state, no shuffle); the only shuffles are the (event_type, b) aggregate
    — B x |types| cells of mergeable sums — and the final B-row-per-type
    percentile. The classic n-out-of-n bootstrap cannot run on 100 TB
    (every replicate is a full shuffle of the data); this form costs one
    pass regardless of B."""
    # spread=True: the events parquet is one row group → one scan task, and
    # the ×64 explode + per-(row, replicate) md5 lattice below it would run
    # single-threaded (6.4M md5+conv chains on one core at sf0.1 — the
    # query's whole cost). One tiny repartition buys full-core parallelism;
    # no-op at production input sizes (guide §2.5).
    e = load_table(spark, sf_dir, "events", spread=True)
    b = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    draws = e.select("event_type", "value", "event_id", b).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0),
    )
    w = F.lit(len(_POIS1_CDF))
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS1_CDF[k], k).otherwise(w)
    weighted = (
        draws.withColumn("w", w)
        .groupBy("event_type", "b")
        .agg(
            # SUM(w) CAN be 0: a small type's replicate can draw Poisson
            # weight 0 for every row (sparse-world fuzz — certain at n=1,
            # P≈e⁻¹ per replicate). DuckDB division by zero yields NULL and
            # quantile_cont/stddev skip NULLs; Spark ANSI raises — guard to
            # the shared NULL contract (an empty resample has no mean).
            F.when(
                F.sum("w") > 0,
                F.sum(F.col("w") * F.col("value")) / F.sum("w"),
            ).alias("boot_mean")
        )
    )
    base = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # exact cents-lattice mean (see oracle note: 1e-4 half-way point)
        exact_round_avg("value", 4).alias("mean_value"),
    )
    return (
        weighted.join(F.broadcast(base), "event_type")
        .groupBy("event_type", "n", "mean_value")
        .agg(
            F.round(F.expr("percentile(boot_mean, 0.025)"), 4).alias("boot_lo"),
            F.round(F.expr("percentile(boot_mean, 0.975)"), 4).alias("boot_hi"),
            F.round(F.stddev_samp("boot_mean"), 4).alias("boot_se"),
        )
        .select(
            "event_type",
            "n",
            F.col("mean_value"),
            "boot_lo",
            "boot_hi",
            "boot_se",
        )
        .transform(sort_result, "event_type")
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the one-vs-rest mean-shift panel
# ---------------------------------------------------------------------------

_BH_ALPHA = 0.05
# Abramowitz & Stegun 7.1.26 erf constants (|error| < 1.5e-7) — evaluated
# with IDENTICAL literals on both engines so p-values hash-match.
_AS_ERF = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_SQRT2 = 1.4142135623730951


@register(
    "stats_benjamini_hochberg_fdr",
    oracle=f"""
    WITH stats AS (
        SELECT event_type, COUNT(*) * 1.0 AS n, AVG(value) AS m,
               var_samp(value) AS v,
               /* exact cents-lattice sums: the PUBLISHED means are
                  rationals that can sit exactly on a 1e-4 half-way point
                  (38.573750 = 925.77/24, sparse-world catch r8) where
                  double rounding is engine-dependent */
               SUM(CAST(value AS DECIMAL(18,6))) AS s6,
               COUNT(value) AS cnt
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT SUM(n) AS tn, SUM(m * n) AS tsum,
               SUM((n - 1) * v + n * m * m) AS tss,
               SUM(s6) AS t6, SUM(cnt) AS tcnt
        FROM stats
    ),
    rest AS (
        SELECT s.event_type, s.n, s.m, s.v,
               {exact_round_ratio_sql(
                   "CAST(s.s6 AS DECIMAL(31,6)) * 1000000",
                   "s.cnt * 1000000", 4
               )} AS grp_mean_x,
               {exact_round_ratio_sql(
                   "CAST(tot.t6 - s.s6 AS DECIMAL(31,6)) * 1000000",
                   "(tot.tcnt - s.cnt) * 1000000", 4
               )} AS rest_mean_x,
               (tot.tn - s.n) AS rn,
               (tot.tsum - s.m * s.n) / (tot.tn - s.n) AS rm,
               /* rest variance via the totals identity: undefined for a
                  1-row rest group (rn-1 = 0), and cancellation can land
                  epsilon-negative where the truth is 0 — DuckDB SQRT
                  RAISES on negatives while Spark yields NaN (sparse-world
                  fuzz). Guard + clamp on BOTH engines. */
               CASE WHEN tot.tn - s.n > 1 THEN GREATEST(
                   (tot.tss - ((s.n - 1) * s.v + s.n * s.m * s.m)
                    - (tot.tn - s.n)
                      * POW((tot.tsum - s.m * s.n) / (tot.tn - s.n), 2))
                       / (tot.tn - s.n - 1), 0) END AS rv
        FROM stats s, tot
    ),
    zz AS (
        SELECT event_type, n, m, rm, grp_mean_x, rest_mean_x,
               CASE WHEN v / n + rv / rn > 0
                    THEN (m - rm) / SQRT(v / n + rv / rn) END AS zval
        FROM rest
    ),
    tvals AS (
        SELECT *, ABS(zval) / {_SQRT2} AS x,
               1.0 / (1.0 + 0.3275911 * ABS(zval) / {_SQRT2}) AS t
        FROM zz
    ),
    p AS (
        SELECT event_type, n, m, rm, grp_mean_x, rest_mean_x, zval,
               2 * (1 - (0.5 * (1 + (1 -
                   (((({_AS_ERF[4]} * t + {_AS_ERF[3]}) * t + {_AS_ERF[2]}) * t
                      + {_AS_ERF[1]}) * t + {_AS_ERF[0]}) * t
                   * EXP(-x * x))))) AS pval
        FROM tvals
    ),
    bh AS (
        SELECT event_type, n, m, rm, grp_mean_x, rest_mean_x, zval, pval,
               /* NULLS LAST: a degenerate test (NULL zval/pval — 1-row
                  group or zero pooled SE) must rank AFTER real p-values on
                  BOTH engines (Spark defaults NULLS FIRST ascending) */
               row_number() OVER (ORDER BY pval NULLS LAST, event_type)
                   AS prank,
               COUNT(*) OVER () AS mtests
        FROM p
    ),
    cut AS (
        SELECT COALESCE(MAX(prank), 0) AS kmax FROM bh
        WHERE pval <= prank * {_BH_ALPHA} / mtests
    )
    SELECT b.event_type,
           b.grp_mean_x AS grp_mean, b.rest_mean_x AS rest_mean,
           CASE WHEN ABS(b.zval) < 5e-5 THEN 0.0
                ELSE ROUND(b.zval, 4) END AS z,
           ROUND(b.pval, 6) AS p,
           CAST(b.prank AS BIGINT) AS p_rank,
           ROUND(b.prank * {_BH_ALPHA} / b.mtests, 6) AS bh_threshold,
           CAST(CASE WHEN b.prank <= c.kmax THEN 1 ELSE 0 END AS BIGINT)
               AS rejected
    FROM bh b, cut c
    ORDER BY p_rank
    """,
)
def stats_benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control: a one-vs-rest mean-shift z-test per event
    type, then Benjamini-Hochberg step-up FDR at alpha=0.05 — the correction
    every metrics dashboard needs once it tests more than one segment at a
    time (5 uncorrected tests at alpha=.05 false-alarm ~23% of the time).
    Rest-group moments come from the TOTALS identity (rest = total − group:
    one aggregate pass, no per-pair rescans); the normal CDF is the
    Abramowitz-Stegun 7.1.26 erf polynomial evaluated with identical
    literals on both engines (|err| < 1.5e-7, well inside the 6-dp
    rounding); a |z| < 5e-5 dead-zone pins the sign of the one
    null-by-construction test against cross-engine -0.0/+0.0 drift. Since
    types are near-exchangeable here, rejected=0 everywhere IS the
    calibration pass (same discipline as `stats_ab_test_welch`'s A/A).

    Plan: one keyed aggregate over events, then everything —
    totals, rest-moments, p-values, the BH step-up scan (a rank window +
    running max over |types| rows) — happens on a 5-row frame, the totals
    and the step-up cut as whole-frame windows."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
        # exact cents-lattice sums for the PUBLISHED means: the rounded
        # group/rest means are rationals that can sit exactly on a 1e-4
        # half-way point (38.573750 = 925.77/24 — sparse-world catch, r8)
        # where double rounding is engine-dependent
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s6"),
        F.count("value").alias("cnt"),
    )
    from pyspark.sql import Window

    every = Window.partitionBy()
    tot = stats.withColumns(
        {
            "tn": F.sum("n").over(every),
            "tsum": F.sum(F.col("m") * F.col("n")).over(every),
            "tss": F.sum(
                (F.col("n") - 1) * F.col("v") + F.col("n") * F.col("m") * F.col("m")
            ).over(every),
            "t6": F.sum("s6").over(every),
            "tcnt": F.sum("cnt").over(every),
        }
    )
    rm = (F.col("tsum") - F.col("m") * F.col("n")) / (F.col("tn") - F.col("n"))
    rest = tot.select(
        "event_type",
        "n",
        "m",
        "v",
        exact_round_ratio(
            F.col("s6") * F.lit(10**6), F.col("cnt") * F.lit(10**6), 4
        ).alias("grp_mean_x"),
        exact_round_ratio(
            (F.col("t6") - F.col("s6")) * F.lit(10**6),
            (F.col("tcnt") - F.col("cnt")) * F.lit(10**6),
            4,
        ).alias("rest_mean_x"),
        (F.col("tn") - F.col("n")).alias("rn"),
        rm.alias("rm"),
        # rest variance via the totals identity: undefined for a 1-row rest
        # group (rn-1 = 0 → Spark ANSI raises), and cancellation can land
        # epsilon-negative where the truth is 0 (DuckDB SQRT raises on
        # negatives; Spark yields NaN) — guard + clamp on BOTH engines
        # (sparse-world fuzz, r6)
        F.when(
            F.col("tn") - F.col("n") > 1,
            F.greatest(
                (
                    F.col("tss")
                    - (
                        (F.col("n") - 1) * F.col("v")
                        + F.col("n") * F.col("m") * F.col("m")
                    )
                    - (F.col("tn") - F.col("n")) * F.pow(rm, F.lit(2))
                )
                / (F.col("tn") - F.col("n") - 1),
                F.lit(0.0),
            ),
        ).alias("rv"),
    )
    se2 = F.col("v") / F.col("n") + F.col("rv") / F.col("rn")
    zz = rest.select(
        "event_type",
        "n",
        "m",
        "rm",
        "grp_mean_x",
        "rest_mean_x",
        F.when(se2 > 0, (F.col("m") - F.col("rm")) / F.sqrt(se2)).alias("zval"),
    )
    x = F.abs(F.col("zval")) / F.lit(_SQRT2)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = F.lit(_AS_ERF[4])
    for c in (_AS_ERF[3], _AS_ERF[2], _AS_ERF[1], _AS_ERF[0]):
        poly = poly * t + F.lit(c)
    pval = F.lit(2.0) * (
        F.lit(1.0)
        - (F.lit(0.5) * (F.lit(1.0) + (F.lit(1.0) - poly * t * F.exp(-x * x))))
    )
    p = zz.select(
        "event_type", "n", "m", "rm", "grp_mean_x", "rest_mean_x",
        "zval", pval.alias("pval"),
    )
    bh = p.select(
        "*",
        # NULLS LAST to match the oracle (degenerate tests rank after real
        # p-values; Spark defaults NULLS FIRST ascending)
        F.row_number()
        .over(Window.orderBy(F.asc_nulls_last("pval"), "event_type"))
        .alias("prank"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("mtests"),
    )
    kmax = F.coalesce(
        F.max(
            F.when(
                F.col("pval") <= F.col("prank") * _BH_ALPHA / F.col("mtests"),
                F.col("prank"),
            )
        ).over(every),
        F.lit(0),
    )
    return (
        bh.withColumn("kmax", kmax)
        .select(
            "event_type",
            F.col("grp_mean_x").alias("grp_mean"),
            F.col("rest_mean_x").alias("rest_mean"),
            F.when(F.abs(F.col("zval")) < 5e-5, F.lit(0.0))
            .otherwise(F.round("zval", 4))
            .alias("z"),
            F.round("pval", 6).alias("p"),
            F.col("prank").cast("bigint").alias("p_rank"),
            F.round(F.col("prank") * _BH_ALPHA / F.col("mtests"), 6).alias(
                "bh_threshold"
            ),
            F.when(F.col("prank") <= F.col("kmax"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("rejected"),
        )
        .orderBy("p_rank")
    )


# ---------------------------------------------------------------------------
# Item-to-item collaborative filtering over order baskets
# ---------------------------------------------------------------------------


@register(
    "orders_item_cf_similarity",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    item_cnt AS (
        SELECT l_partkey, COUNT(*) * 1.0 AS n FROM basket GROUP BY 1
    ),
    cooc AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) * 1.0 AS nab
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    sim AS (
        SELECT c.part_a, c.part_b, CAST(c.nab AS BIGINT) AS n_co,
               ROUND(c.nab / SQRT(ia.n * ib.n), 6) AS cosine_sim
        FROM cooc c
        JOIN item_cnt ia ON c.part_a = ia.l_partkey
        JOIN item_cnt ib ON c.part_b = ib.l_partkey
        WHERE c.nab >= 2
    )
    SELECT part_a, part_b, n_co, cosine_sim
    FROM sim
    ORDER BY cosine_sim DESC, part_a, part_b
    LIMIT 20
    """,
)
def orders_item_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item collaborative filtering (the Amazon 2003 shape): parts
    that co-occur in order baskets, scored by co-occurrence cosine
    n_ab / sqrt(n_a x n_b), top-20 pairs with support >= 2. The
    interaction-graph complement to the content-based retrieval stack:
    `simsearch_*` ranks by what items ARE (embeddings), this ranks by how
    items are USED together (baskets) — the two inputs a production
    recommender blends (`hybrid_rrf_topk` is the blending shape).

    Plan note on the basket self-join: unlike the positional co-occurrence
    that `text_textrank_keywords` had to move into lead() windows, keying
    on l_orderkey is the SCALABLE shape here — basket size is bounded
    (~4-7 lineitems/order, a domain invariant independent of corpus
    growth), so per-key pair fan-out is O(basket^2) = O(1) and the join
    grows linearly with orders. Item-count vectors broadcast back onto the
    pair table; top-20 is TakeOrderedAndProject. The hot-item skew lever
    at web scale (one item in 10% of baskets) is the same max_df cap the
    shingle joins document."""
    l = load_table(spark, sf_dir, "lineitem")
    # The distinct basket table feeds THREE consumers (item counts + both
    # sides of the co-occurrence self-join); un-materialized, the lineitem
    # scan + distinct shuffle re-ran per consumer — the r10 before-plan
    # held 8 `Scan parquet` nodes of lineitem (guide §1.2). At 100 TB this
    # is the persisted user-item interaction table every item-CF system
    # materializes before the co-occurrence pass.
    basket = (
        l.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    item_cnt = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    a, b = basket.alias("a"), basket.alias("b")
    cooc = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("nab"))
        .filter(F.col("nab") >= 2)
    )
    ia = item_cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("n").alias("na")
    )
    ib = item_cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("n").alias("nb")
    )
    return (
        cooc.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("nab").cast("bigint").alias("n_co"),
            F.round(
                F.col("nab") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# ID-sequence gap detection (ingestion-hole audit)
# ---------------------------------------------------------------------------


@register(
    "dq_id_sequence_gaps",
    oracle="""
    WITH present AS (
        SELECT event_id FROM events WHERE event_id % 97 <> 0
    ),
    marked AS (
        SELECT event_id,
               event_id - row_number() OVER (ORDER BY event_id) AS grp
        FROM present
    ),
    runs AS (
        SELECT MIN(event_id) AS run_start, MAX(event_id) AS run_end
        FROM marked GROUP BY grp
    ),
    gaps AS (
        SELECT run_end + 1 AS gap_start,
               lead(run_start) OVER (ORDER BY run_start) - 1 AS gap_end
        FROM runs
    )
    SELECT gap_start, gap_end,
           CAST(gap_end - gap_start + 1 AS BIGINT) AS n_missing
    FROM gaps WHERE gap_end IS NOT NULL
    ORDER BY gap_start
    """,
)
def dq_id_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-hole audit: find every missing run in a should-be-dense id
    sequence (holes planted deterministically by dropping event_id % 97 = 0
    so the detector provably fires on each of the ~103 single-id gaps at
    sf0.01). Gaps-and-islands with the id-minus-rank trick: consecutive
    ids share `id − row_number()`, so islands collapse in one aggregate
    and the holes are the spaces between successive islands — the
    id-space sibling of `dq_freshness_audit` (time-space gaps) and the
    completeness check a backfill job runs before declaring a partition
    whole.

    Plan note: id − row_number() needs a GLOBAL rank (one range-partition
    sort — Spark's parallel TimSort, not a single task); at 100 TB you
    shard this by id range first (`operators/scale.py` byte-balanced
    sharder) and run the same island logic per shard, stitching shard
    boundaries with one extra pass over |shards| rows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    present = e.filter(F.col("event_id") % 97 != 0).select("event_id")
    marked = present.withColumn(
        "grp",
        F.col("event_id") - F.row_number().over(Window.orderBy("event_id")),
    )
    runs = marked.groupBy("grp").agg(
        F.min("event_id").alias("run_start"),
        F.max("event_id").alias("run_end"),
    )
    gaps = runs.select(
        (F.col("run_end") + 1).alias("gap_start"),
        (F.lead("run_start").over(Window.orderBy("run_start")) - 1).alias(
            "gap_end"
        ),
    )
    return (
        gaps.filter(F.col("gap_end").isNotNull())
        .select(
            "gap_start",
            "gap_end",
            (F.col("gap_end") - F.col("gap_start") + 1)
            .cast("bigint")
            .alias("n_missing"),
        )
        .orderBy("gap_start")
    )


# ---------------------------------------------------------------------------
# Functional-dependency profiling
# ---------------------------------------------------------------------------


@register(
    "dq_functional_dependency_profile",
    oracle="""
    WITH cands AS (
        SELECT 'customer.c_nationkey -> nation.n_regionkey' AS fd,
               COUNT(DISTINCT c_nationkey) AS n_lhs, MAX(cnt) AS max_rhs
        FROM (
            SELECT c_nationkey, COUNT(DISTINCT n_regionkey) AS cnt
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY c_nationkey
        )
        UNION ALL
        SELECT 'orders.o_orderkey -> o_custkey',
               COUNT(DISTINCT o_orderkey), MAX(cnt)
        FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS cnt
              FROM orders GROUP BY 1)
        UNION ALL
        SELECT 'lineitem.l_orderkey -> l_returnflag',
               COUNT(DISTINCT l_orderkey), MAX(cnt)
        FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS cnt
              FROM lineitem GROUP BY 1)
    )
    SELECT fd, CAST(n_lhs AS BIGINT) AS n_lhs,
           CAST(max_rhs AS BIGINT) AS max_rhs_per_lhs,
           CAST(CASE WHEN max_rhs = 1 THEN 1 ELSE 0 END AS BIGINT) AS holds
    FROM cands ORDER BY fd
    """,
)
def dq_functional_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling: for candidate A→B dependencies,
    measure max distinct(B) per A — the FD holds iff that maximum is 1.
    The schema-discovery primitive behind normalization checks, join-key
    validation, and "is this column derivable?" pruning decisions
    (a held FD means B need not be shuffled — it rides with A). The
    candidate set shows one FD that holds by construction (order →
    customer), one that holds through a join (nation → region), and one
    that provably FAILS (order → returnflag varies within an order) —
    the detector must separate them, not bless everything.

    Plan: each candidate is one grouped COUNT DISTINCT + a max rollup —
    mergeable partial aggregates; candidates union on 1-row frames.
    Adding a candidate adds a branch, never a rescan of others."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")

    def profile(name: str, grouped: DataFrame) -> DataFrame:
        return grouped.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
            F.max("cnt").cast("bigint").alias("max_rhs_per_lhs"),
        )

    f1 = profile(
        "customer.c_nationkey -> nation.n_regionkey",
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_nationkey")
        .agg(F.countDistinct("n_regionkey").alias("cnt")),
    )
    f2 = profile(
        "orders.o_orderkey -> o_custkey",
        o.groupBy("o_orderkey").agg(F.countDistinct("o_custkey").alias("cnt")),
    )
    f3 = profile(
        "lineitem.l_orderkey -> l_returnflag",
        l.groupBy("l_orderkey").agg(
            F.countDistinct("l_returnflag").alias("cnt")
        ),
    )
    return (
        f1.unionByName(f2)
        .unionByName(f3)
        .select(
            "fd",
            "n_lhs",
            "max_rhs_per_lhs",
            F.when(F.col("max_rhs_per_lhs") == 1, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("holds"),
        )
        .orderBy("fd")
    )


# ---------------------------------------------------------------------------
# Experiment power analysis (minimum detectable effect)
# ---------------------------------------------------------------------------

_Z_975 = 1.959963984540054  # two-sided alpha = 0.05
_Z_80 = 0.8416212335729143  # power = 0.80


@register(
    "stats_power_analysis_mde",
    oracle=f"""
    WITH assigned AS (
        SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    arms AS (
        SELECT arm, COUNT(*) * 1.0 AS n, AVG(value) AS m, var_samp(value) AS v
        FROM assigned GROUP BY arm
    ),
    wide AS (
        SELECT (SELECT n FROM arms WHERE arm = 'A') AS n_a,
               (SELECT n FROM arms WHERE arm = 'B') AS n_b,
               (SELECT m FROM arms WHERE arm = 'A') AS m_a,
               (SELECT v FROM arms WHERE arm = 'A') AS v_a,
               (SELECT v FROM arms WHERE arm = 'B') AS v_b
    ),
    calc AS (
        SELECT n_a, n_b, m_a,
               sqrt(((n_a - 1) * v_a + (n_b - 1) * v_b)
                    / (n_a + n_b - 2)) AS sd_pooled,
               ({_Z_975} + {_Z_80}) * sqrt(v_a / n_a + v_b / n_b) AS mde
        FROM wide
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(sd_pooled, 4) AS sd_pooled,
           ROUND(mde, 4) AS mde_abs,
           ROUND(mde / m_a, 4) AS mde_rel,
           CAST(CEIL(2 * POW(({_Z_975} + {_Z_80}) * sd_pooled
                             / (0.01 * m_a), 2)) AS BIGINT)
               AS n_per_arm_for_1pct
    FROM calc
    """,
)
def stats_power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis on the SAME hash-assigned arms as
    `stats_ab_test_welch`: the minimum detectable effect at alpha=0.05 /
    power=0.80 given current arm sizes and variances — MDE =
    (z_0.975 + z_0.80) * SE(diff) — plus the sample size per arm needed
    to detect a 1% relative lift. The question experimenters must answer
    BEFORE shipping a test ('can this experiment even see the effect we
    care about?'); the Welch query answers the after. z-quantiles are
    pinned literals on both engines, so no CDF inversion is evaluated in
    either plan.

    Plan: one filtered scan -> 2-arm moment aggregate -> closed-form
    arithmetic on a 1-row frame."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    arms = (
        e.select(arm.alias("arm"), "value")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    # 1-row aggregate, not filter+crossJoin: an empty arm must yield one
    # row of NULL stats like the oracle's scalar subqueries, not zero rows
    # (sparse-world fuzz; same fix as stats_ab_test_welch)
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "A", F.col("m"))).alias("m_a"),
        F.max(F.when(F.col("arm") == "A", F.col("v"))).alias("v_a"),
        F.max(F.when(F.col("arm") == "B", F.col("v"))).alias("v_b"),
    )
    sd_pooled = F.sqrt(
        ((F.col("n_a") - 1) * F.col("v_a") + (F.col("n_b") - 1) * F.col("v_b"))
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    mde = (_Z_975 + _Z_80) * F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(sd_pooled, 4).alias("sd_pooled"),
        F.round(mde, 4).alias("mde_abs"),
        F.round(mde / F.col("m_a"), 4).alias("mde_rel"),
        F.ceil(
            2 * F.pow((_Z_975 + _Z_80) * sd_pooled / (0.01 * F.col("m_a")), 2)
        )
        .cast("bigint")
        .alias("n_per_arm_for_1pct"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index (model-monitoring drift gate)
# ---------------------------------------------------------------------------


@register(
    "dq_value_drift_psi",
    oracle=f"""
    WITH ranked AS (
        SELECT value, ts, ntile(2) OVER (ORDER BY ts, event_id) AS half
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    ref AS (SELECT value FROM ranked WHERE half = 1),
    idx AS (
        SELECT value, row_number() OVER (ORDER BY value) AS rn FROM ref
    ),
    pos AS (
        SELECT (i * (SELECT COUNT(*) FROM ref) + 9) // 10 AS rn
        FROM range(1, 10) t(i)
    ),
    edges AS (
        SELECT list_sort(list(idx.value)) AS qs FROM idx JOIN pos USING (rn)
    ),
    binned AS (
        SELECT half,
               1 + len(list_filter((SELECT qs FROM edges), q -> value > q))
                   AS bin
        FROM ranked
    ),
    dist AS (
        SELECT bin,
               {exact_round_ratio_sql(
                   "SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)",
                   "(SELECT COUNT(*) FROM ranked WHERE half = 1)", 4)}
                   AS p_ref,
               {exact_round_ratio_sql(
                   "SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END)",
                   "(SELECT COUNT(*) FROM ranked WHERE half = 2)", 4)}
                   AS p_cur
        FROM binned GROUP BY bin
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           p_ref, p_cur,
           {spark_round_sql(
               "CASE WHEN p_cur > 0 AND p_ref > 0"
               " THEN (p_cur - p_ref) * ln(p_cur / p_ref) END", 6)}
               AS psi_term,
           {spark_round_sql(
               "SUM(CASE WHEN p_cur > 0 AND p_ref > 0"
               " THEN (p_cur - p_ref) * ln(p_cur / p_ref) END) OVER ()", 6)}
               AS psi_total
    FROM dist ORDER BY bin
    """,
)
def dq_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of the
    purchase-value stream (time-split by ntile): reference deciles frozen
    from the FIRST half (exactly how production monitoring freezes bins
    at model training time), then PSI = sum (p_cur − p_ref) ln(p_cur/p_ref)
    over the ten bins. THE industry-standard drift score (rule of thumb:
    < 0.1 stable, 0.1-0.25 investigate, > 0.25 shifted) — the bucketed,
    thresholded cousin of `stats_ks_two_sample` (sup-norm) and
    `text_corpus_drift_kl` (one-sided KL), and the one a model-monitoring
    dashboard actually renders bin by bin. ~0.014 on the synthetic split
    is the stable-reading calibration.

    Plan: one sort window for the time split, one rank window + 9-position
    broadcast join for the reference deciles (9-value broadcast array),
    map-side binning via a filtered-array count, one 10-group rollup.
    approx_percentile swap documented for frozen-bin serving at 1e12 rows.

    Cross-engine discipline (an sf0.1 redraw world caught the interpolated
    variant): decile edges are DISCRETE order statistics — the value at
    row ceil(i·n/10) — not interpolated percentiles. Interpolation
    arithmetic differs between engines by ulps, and with lattice-valued
    data an edge that lands ON a data value flips every tied row's bin;
    an order statistic is an exact lattice value, bit-identical on both
    engines, and `value > q` then resolves ties identically. Bin shares
    are exact count/total rationals (functions/exact.py), and the PSI
    terms are computed from the published rounded shares so the table is
    self-consistent."""
    from pyspark.sql import Window

    # a value-distribution drift score is over OBSERVED values: a NULL has
    # no decile bin, and the reference-decile rank window would otherwise
    # shift by the null count on one engine only (NULL-world fuzz, r6)
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    ranked = e.select(
        "value",
        F.ntile(2).over(Window.orderBy("ts", "event_id")).alias("half"),
    )
    ref = ranked.filter(F.col("half") == 1)
    nref = ref.agg(F.count(F.lit(1)).alias("n"))
    idx = ref.select(
        "value", F.row_number().over(Window.orderBy("value")).alias("rn")
    )
    pos = (
        spark.range(1, 10)
        .withColumnRenamed("id", "i")
        .crossJoin(F.broadcast(nref))
        .select(F.expr("(i * n + 9) div 10").alias("rn"))
    )
    edges = idx.join(F.broadcast(pos), "rn").agg(
        F.sort_array(F.collect_list("value")).alias("qs")
    )
    binned = ranked.crossJoin(F.broadcast(edges)).select(
        "half",
        (
            1
            + F.size(F.filter("qs", lambda q: F.col("value") > q))
        ).alias("bin"),
    )
    n_ref = F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).over(
        Window.partitionBy()
    )
    n_cur = F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).over(
        Window.partitionBy()
    )
    counts = binned.select("half", "bin", n_ref.alias("nr"), n_cur.alias("nc"))
    dist = counts.groupBy("bin").agg(
        exact_round_ratio(
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)),
            F.first("nr"),
            4,
        ).alias("p_ref"),
        exact_round_ratio(
            F.sum(F.when(F.col("half") == 2, 1).otherwise(0)),
            F.first("nc"),
            4,
        ).alias("p_cur"),
    )
    # ln() is fed the PUBLISHED 4dp-rounded shares, so a nonzero share
    # below 5e-5 rounds to 0.0 — guard the log term to NULL (summed-over
    # on both engines) instead of ±Infinity (ADVICE r5). Unreachable with
    # decile-sized bins (~0.1 shares); load-bearing if bin construction
    # or data shape ever changes.
    term = F.when(
        (F.col("p_cur") > 0) & (F.col("p_ref") > 0),
        (F.col("p_cur") - F.col("p_ref"))
        * F.log(F.col("p_cur") / F.col("p_ref")),
    )
    wall = Window.partitionBy()
    return dist.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("p_ref"),
        F.col("p_cur"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(wall), 6).alias("psi_total"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Chao1 distinct-count estimation from a sample
# ---------------------------------------------------------------------------

_CHAO_SAMPLE_P = 0.02


@register(
    "dq_distinct_chao1_estimate",
    oracle=f"""
    WITH samp AS (
        SELECT user_id FROM events
        WHERE ('0x' || substr(md5('ndv:' || CAST(event_id AS VARCHAR)), 1, 8))
              ::BIGINT / 4294967296.0 < {_CHAO_SAMPLE_P}
    ),
    freq AS (SELECT user_id, COUNT(*) AS c FROM samp GROUP BY user_id),
    s AS (
        SELECT COUNT(*) * 1.0 AS d_obs,
               SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 AS f1,
               SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) * 1.0 AS f2
        FROM freq
    )
    SELECT CAST(d_obs AS BIGINT) AS d_observed,
           CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
           ROUND(d_obs + f1 * f1 / (2 * GREATEST(f2, 1)), 2)
               AS chao1_estimate,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
               AS true_distinct
    FROM s
    """,
)
def dq_distinct_chao1_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimation: infer TOTAL distinct users from
    a derandomized 2% event sample via the abundance estimate D = d_obs +
    f1²/(2·f2) — singletons (seen once) and doubletons (seen twice) carry
    the information about how many identities the sample MISSED. The
    sampling-based NDV estimator a query optimizer (and any 100 TB
    profiling job that can't afford a full distinct) runs on a block
    sample; the same statistic estimates unseen-vocabulary mass
    (`text_good_turing_unseen` is the probability-mass sibling; HLL
    sketches answer a different question — exact-pass approximate, not
    sample-extrapolated). True distinct emitted alongside as the
    self-audit, computable only at test scale.

    Plan: map-side hashed draw, one (user) count, one 3-number frequency
    rollup, closed form — the full-data side appears only in the audit
    column."""
    e = load_table(spark, sf_dir, "events")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ndv:"), F.col("event_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    freq = (
        e.filter(u < _CHAO_SAMPLE_P)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = freq.agg(
        F.count(F.lit(1)).cast("double").alias("d_obs"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("double")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("double")
        .alias("f2"),
    )
    truth = e.agg(F.countDistinct("user_id").cast("bigint").alias("td"))
    return s.crossJoin(F.broadcast(truth)).select(
        F.col("d_obs").cast("bigint").alias("d_observed"),
        F.col("f1").cast("bigint").alias("f1"),
        F.col("f2").cast("bigint").alias("f2"),
        F.round(
            F.col("d_obs")
            + F.col("f1") * F.col("f1") / (2 * F.greatest(F.col("f2"), F.lit(1.0))),
            2,
        ).alias("chao1_estimate"),
        F.col("td").alias("true_distinct"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA (day-of-week effect)
# ---------------------------------------------------------------------------


@register(
    "stats_anova_dow_effect",
    oracle="""
    WITH g AS (
        SELECT dayofweek(ts) AS dow, COUNT(*) * 1.0 AS n, AVG(value) AS m,
               SUM(value * value) AS ss
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    tot AS (
        SELECT SUM(n) AS nt, SUM(n * m) / SUM(n) AS gm, COUNT(*) AS k FROM g
    ),
    parts AS (
        SELECT SUM(g.n * (g.m - t.gm) * (g.m - t.gm)) AS ssb,
               SUM(g.ss - g.n * g.m * g.m) AS ssw,
               MAX(t.nt) AS nt, MAX(t.k) AS k
        FROM g, tot t
    )
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(nt AS BIGINT) AS n,
           ROUND(ssb / (k - 1) / (ssw / (nt - k)), 4) AS f_stat,
           ROUND(ssb / (ssb + ssw), 6) AS eta_squared
    FROM parts
    """,
)
def stats_anova_dow_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of purchase value across day-of-week: F statistic
    (between-group vs within-group mean square) and eta-squared effect
    size from ONE pass of per-group moments (n, mean, sum-of-squares —
    the within sum-of-squares falls out of SS − n·m² per group, no second
    scan). The k-group generalization of `stats_ab_test_welch`'s
    two-arm test: before slicing a metric seven ways on a dashboard, this
    is the one number saying whether the slicing explains ANYTHING
    (F ~ 0.93, eta² ~ 0.003 here: day-of-week explains nothing — the A/A
    reading). The day-grouping LABELS never reach the output, so Spark's
    1=Sunday and DuckDB's 0=Sunday conventions partition identically.

    Plan: one grouped moment aggregate (7 cells), broadcast grand totals,
    closed-form F on a 1-row frame."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    g = e.groupBy(F.dayofweek("ts").alias("dow")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).alias("k"),
    )
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
        ).alias("ssb"),
        F.sum(F.col("ss") - F.col("n") * F.col("m") * F.col("m")).alias("ssw"),
        F.max("nt").alias("nt"),
        F.max("k").alias("k"),
    )
    return parts.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("nt").cast("bigint").alias("n"),
        # degenerate designs (sparse-world fuzz): one group (k=1), no
        # within-group df (nt=k), or zero within-group variance all make F
        # undefined — DuckDB's division by zero yields NULL, Spark ANSI
        # raises. Guard to the shared NULL contract; same for eta² when
        # total SS is zero.
        F.round(
            F.when(
                (F.col("k") > 1) & (F.col("nt") > F.col("k")) & (F.col("ssw") != 0),
                F.col("ssb")
                / (F.col("k") - 1)
                / (F.col("ssw") / (F.col("nt") - F.col("k"))),
            ),
            4,
        ).alias("f_stat"),
        F.round(
            F.when(
                F.col("ssb") + F.col("ssw") != 0,
                F.col("ssb") / (F.col("ssb") + F.col("ssw")),
            ),
            6,
        ).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# ANSI-safe error handling: try_cast / try_divide over dirty data
# ---------------------------------------------------------------------------


@register(
    "sql_api_try_error_safe_parsing",
    oracle="""
    WITH raw AS (
        SELECT source,
               CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS VARCHAR)
                    WHEN doc_id % 3 = 1 THEN substr(text, 1, 4)
                    ELSE '' END AS dirty,
               TRY_CAST(CASE WHEN doc_id % 5 = 0 THEN 0
                             ELSE doc_id % 5 END AS DOUBLE) AS denom,
               n_chars
        FROM documents
    ),
    parsed AS (
        SELECT source, TRY_CAST(dirty AS BIGINT) AS v,
               n_chars / NULLIF(denom, 0) AS safe_div
        FROM raw
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(v) AS BIGINT) AS n_parsed,
           {rate} AS parse_rate,
           CAST(SUM(CASE WHEN safe_div IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_div_guarded,
           CAST(SUM(v) AS BIGINT) AS parsed_sum
    FROM parsed GROUP BY source ORDER BY source
    """.replace("{rate}", exact_round_ratio_sql("COUNT(v)", "COUNT(*)", 4)),
)
def sql_api_try_error_safe_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error discipline over dirty data: Spark 4 runs with
    ansi.enabled=true, where a bad CAST or a zero division ABORTS the
    job — the correct production posture (silent NULL-on-error hides
    corruption), which makes try_cast / try_divide the explicit opt-in
    for ingest columns that are EXPECTED to be dirty. A third of the
    synthetic column parses (numeric), a third is alphabetic garbage, a
    third empty; a fifth of denominators are zero — the query counts
    exactly what was salvaged vs guarded, per source, which is the
    ingest-report shape. DuckDB mirrors with TRY_CAST and NULLIF-guarded
    division (its / is NULL-on-zero by default — pinning this pair IS the
    cross-engine semantics documentation).

    Plan: pure map-side expressions + one keyed rollup; error-safety
    costs nothing at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = (
        F.when(F.col("doc_id") % 3 == 0, F.col("n_chars").cast("string"))
        .when(F.col("doc_id") % 3 == 1, F.substring("text", 1, 4))
        .otherwise(F.lit(""))
    )
    denom = F.when(F.col("doc_id") % 5 == 0, 0.0).otherwise(
        (F.col("doc_id") % 5).cast("double")
    )
    parsed = docs.select(
        "source",
        dirty.try_cast("bigint").alias("v"),
        F.try_divide(F.col("n_chars"), F.nullif(denom, F.lit(0.0))).alias(
            "safe_div"
        ),
    )
    return (
        parsed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("v").cast("bigint").alias("n_parsed"),
            exact_round_ratio(F.count("v"), F.count(F.lit(1)), 4).alias("parse_rate"),
            F.sum(F.when(F.col("safe_div").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_div_guarded"),
            F.sum("v").cast("bigint").alias("parsed_sum"),
        )
        .transform(sort_result, "source")
    )


# ---------------------------------------------------------------------------
# One EM step of a two-component Gaussian mixture
# ---------------------------------------------------------------------------


@register(
    "stats_gmm_em_one_step",
    oracle="""
    WITH x AS (
        SELECT value AS v FROM events WHERE event_type = 'purchase'
    ),
    init AS (
        SELECT quantile_cont(v, 0.25) AS mu1, quantile_cont(v, 0.75) AS mu2,
               stddev_samp(v) AS s0
        FROM x
    ),
    e_step AS (
        SELECT x.v,
               exp(-0.5 * POW((x.v - i.mu1) / i.s0, 2)) AS f1,
               exp(-0.5 * POW((x.v - i.mu2) / i.s0, 2)) AS f2
        FROM x, init i
    ),
    resp AS (
        SELECT v, f1 / (f1 + f2) AS r1, f2 / (f1 + f2) AS r2 FROM e_step
        WHERE f1 + f2 > 0
    ),
    m_step AS (
        SELECT SUM(r1) AS n1, SUM(r2) AS n2,
               SUM(r1 * v) / SUM(r1) AS mu1,
               SUM(r2 * v) / SUM(r2) AS mu2,
               COUNT(*) AS n
        FROM resp
    ),
    sig AS (
        SELECT m.n1, m.n2, m.mu1, m.mu2, m.n,
               sqrt(SUM(r.r1 * POW(r.v - m.mu1, 2)) / m.n1) AS s1,
               sqrt(SUM(r.r2 * POW(r.v - m.mu2, 2)) / m.n2) AS s2
        FROM resp r, m_step m
        GROUP BY m.n1, m.n2, m.mu1, m.mu2, m.n
    )
    SELECT 1 AS component, ROUND(n1 / n, 4) AS weight,
           ROUND(mu1, 4) AS mu, ROUND(s1, 4) AS sigma FROM sig
    UNION ALL
    SELECT 2, ROUND(n2 / n, 4), ROUND(mu2, 4), ROUND(s2, 4) FROM sig
    ORDER BY component
    """,
)
def stats_gmm_em_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM step of a 2-component Gaussian mixture on purchase values,
    from a DETERMINISTIC initialization (mu = p25/p75, shared sd) — the
    soft-assignment counterpart of the hard-assignment k-means trainer
    (`cluster_kmeans_lloyd`): responsibilities are posterior weights, the
    M-step re-estimates (weight, mu, sigma) per component. Pinned as
    exactly one step for the same reason every iterative query here is —
    a replayable recurrence is what a differential oracle can check;
    more steps chain the identical stage with the usual checkpoint
    cadence. Near-equal weights with overlapping components = the honest
    unimodal reading on this data (the BIC-style 'is it even bimodal'
    check falls out of comparing these sigmas to the pooled sd).

    Plan: E-step is map-side arithmetic against a broadcast 1-row init;
    each M-step statistic is one mergeable aggregate; sigma needs the
    second pass over responsibilities (classic two-pass EM in SQL). The two
    component rows are one ``stack`` of the single sigma row, so the plan
    reads the slice once per pass (init, M-step, sigma), not twice per
    component; zero shuffles beyond the aggregates."""
    e = load_table(spark, sf_dir, "events")
    x = e.filter(F.col("event_type") == "purchase").select(
        F.col("value").alias("v")
    )
    init = x.agg(
        F.expr("percentile(v, 0.25)").alias("mu1"),
        F.expr("percentile(v, 0.75)").alias("mu2"),
        F.stddev_samp("v").alias("s0"),
    )
    # s0 CAN be 0 (all purchase values equal) or NULL (≤1 observed value —
    # sparse+null-world fuzz): DuckDB's x/0 yields NULL and the f1+f2 > 0
    # filter drops every row; Spark ANSI raises — guard to the same
    # NULL-then-drop behavior
    z1 = F.when(F.col("s0") > 0, (F.col("v") - F.col("mu1")) / F.col("s0"))
    z2 = F.when(F.col("s0") > 0, (F.col("v") - F.col("mu2")) / F.col("s0"))
    f1 = F.exp(-0.5 * F.pow(z1, 2))
    f2 = F.exp(-0.5 * F.pow(z2, 2))
    resp = (
        x.crossJoin(F.broadcast(init))
        .select("v", f1.alias("f1"), f2.alias("f2"))
        .filter(F.col("f1") + F.col("f2") > 0)
        .select(
            "v",
            (F.col("f1") / (F.col("f1") + F.col("f2"))).alias("r1"),
            (F.col("f2") / (F.col("f1") + F.col("f2"))).alias("r2"),
        )
    )
    m = resp.agg(
        F.sum("r1").alias("n1"),
        F.sum("r2").alias("n2"),
        (F.sum(F.col("r1") * F.col("v")) / F.sum("r1")).alias("mu1"),
        (F.sum(F.col("r2") * F.col("v")) / F.sum("r2")).alias("mu2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    sig = resp.crossJoin(F.broadcast(m)).agg(
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.first("mu1").alias("mu1"),
        F.first("mu2").alias("mu2"),
        F.first("n").alias("n"),
        F.sqrt(
            F.sum(F.col("r1") * F.pow(F.col("v") - F.col("mu1"), 2))
            / F.first("n1")
        ).alias("s1"),
        F.sqrt(
            F.sum(F.col("r2") * F.pow(F.col("v") - F.col("mu2"), 2))
            / F.first("n2")
        ).alias("s2"),
    )
    # an empty responsibility frame (all-NULL or zero-spread input) must
    # yield ZERO rows like the oracle's GROUP BY over the empty join —
    # Spark's global agg emits one all-NULL row instead; the n > 0 filter
    # (NULL fails it) restores the shared row contract
    return (
        sig.filter(F.col("n") > 0)
        .select(
            "n",
            F.expr("stack(2, 1, n1, mu1, s1, 2, n2, mu2, s2) AS (component, nk, mu, s)"),
        )
        .select(
            "component",
            F.round(F.col("nk") / F.col("n"), 4).alias("weight"),
            F.round("mu", 4).alias("mu"),
            F.round("s", 4).alias("sigma"),
        )
        .orderBy("component")
    )
