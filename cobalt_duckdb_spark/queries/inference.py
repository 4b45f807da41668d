"""Inference pack: the embed→index→search pipeline end-to-end with the U1
embedder UDF (deterministic stand-in backend — no model weights here) and
the U2 tokenizer. Rows-only checks: the oracle can't run model inference
(SURVEY.md §5.2.2), so these pin the distributed plumbing; the numeric KNN
semantics are already oracle-checked via the frozen embeddings table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.inference import (
    make_embedder_udf,
    make_tokenizer_udf,
    with_doc_prefix,
    with_query_prefix,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators.knn import knn_topk_batch
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register


@register("infer_embed_index_search_e2e")
def infer_embed_index_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full lifecycle (SURVEY.md §3.1-3.2) in one distributed
    job: prefix + embed the corpus (U1, lazy singleton per executor), prefix
    + embed 3 query texts, then set-oriented batch KNN — replacing the
    reference's per-query loop and positional join-back."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    embed = make_embedder_udf(dim=64)

    indexed = docs.select(
        F.col("doc_id").alias("vec_id"),
        embed(with_doc_prefix("text")).alias("embedding"),
    )
    queries = (
        docs.filter(F.col("doc_id") < 3)
        .select(
            F.col("doc_id").alias("query_id"),
            embed(with_query_prefix("text")).alias("query_vec"),
        )
    )
    return knn_topk_batch(indexed, queries, k=5)


@register("infer_tokenize_stats")
def infer_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 tokenizer UDF over the corpus with per-lang token statistics."""
    docs = load_table(spark, sf_dir, "documents")
    tokenize = make_tokenizer_udf()
    toks = docs.select(
        "lang", F.split(tokenize("text"), " ").alias("toks")
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("toks")).cast("bigint").alias("total_tokens"),
        )
        .transform(sort_result, "lang")
    )
