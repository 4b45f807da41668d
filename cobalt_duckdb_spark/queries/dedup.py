"""Dedup pack queries (north star): exact, n-gram Jaccard, MinHash-LSH,
SimHash, embedding-cosine near-dup. See operators/dedup.py for the physical
design of each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.exact import exact_round_avg, exact_round_avg_sql
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators import dedup as D
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register

# Exact-decimal mean of 6-dp-lattice jaccards (shared by the oracle
# f-string below): scale 6 == the pair rounding, dp 6 == the publish.
AVG_JACCARD_SQL = exact_round_avg_sql("jaccard", dp=6, scale=6)


@register(
    "dedup_exact_fingerprint",
    oracle="""
    WITH fp AS (
        SELECT lang,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT f) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT f) AS BIGINT) AS n_exact_dups
    FROM fp GROUP BY lang ORDER BY lang
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup audit per lang via normalized md5 fingerprints."""
    d = load_table(spark, sf_dir, "documents")
    from cobalt_duckdb_spark.functions.text import fingerprint

    return (
        d.select("lang", fingerprint("text").alias("f"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("f").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("f")).alias("n_exact_dups"),
        )
        .transform(sort_result, "lang")
    )


@register(
    "dedup_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                   i -> string_split(text,' ')[i] || ' ' ||
                        string_split(text,' ')[i+1] || ' ' ||
                        string_split(text,' ')[i+2])) AS s
        FROM documents
    ),
    shf AS (SELECT * FROM sh WHERE len(s) > 0),
    sizes AS (SELECT doc_id, len(s) * 1.0 AS ns FROM shf),
    ex AS (
        SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(s) AS shingle FROM shf)
    ),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) * 1.0 AS common
        FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.a_id AS a_id, c.b_id AS b_id,
           ROUND(c.common / (sa.ns + sb.ns - c.common), 6) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.a_id
    JOIN sizes sb ON sb.doc_id = c.b_id
    WHERE c.common / (sa.ns + sb.ns - c.common) >= 0.5
    ORDER BY a_id, b_id
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs 3-gram Jaccard near-dup pairs (≥0.5) via the
    inverted-index set-similarity join (no blocking → no recall loss)."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, threshold=0.5)


@register("dedup_minhash_lsh_pairs", oracle=D.minhash_lsh_oracle_sql(threshold=0.5))
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8×4) candidates verified at Jaccard ≥ 0.5 — the
    oracle replays the identical hash family in SQL, so this probabilistic
    algorithm is still differentially tested."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, threshold=0.5).transform(
        sort_result, "a_id", "b_id"
    )


@register("dedup_simhash_pairs", oracle=D.simhash_oracle_sql(max_hamming=12))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash Hamming-distance pairs (≤12 bits). The oracle replays
    the identical md5-slice bit math in SQL (DuckDB bit_count/xor with a
    lateral range(0,32) in place of Spark's 64 generated aggregates), so
    this operator is fully differentially tested — plus unit tests asserting
    the pair set agrees with exact-Jaccard near-dups on the same corpus."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(d, max_hamming=12)


@register(
    "dedup_embedding_cosine_pairs",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.4
    ORDER BY a_id, b_id
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: same-label pairs with cosine similarity ≥ 0.4.
    Label acts as the blocking key (at 100 TB: replace with LSH buckets).

    Implementation: per-label Arrow batch → NumPy BLOCKED matmul (BLAS) over
    the normalized matrix — the vectorized path SURVEY.md §4.1 prescribes
    when JVM array expressions lose to SIMD, with per-task memory bounded at
    O(block × n) by operators.dedup.cosine_block_pairs (a hot label never
    allocates the n×n matrix, so one skewed blocking key can't OOM its
    Python worker). The per-pair Catalyst expression form (dot/(na·nb),
    functions/vector.py) computes the same values within 1 ulp but was
    measured 4× slower at 64 dims; ROUND(,6) absorbs the ulp so the oracle
    (sequential-loop algebra) still hash-matches."""
    e = load_table(spark, sf_dir, "embeddings")

    def pairs_fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        nm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        blocks = list(D.cosine_block_pairs(ids, nm, threshold=0.4))
        if not blocks:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cos_sim": "float64"}
            )
        a, b, s = (np.concatenate(parts) for parts in zip(*blocks))
        return pd.DataFrame(
            {"a_id": a, "b_id": b, "cos_sim": np.round(s, 6)}
        )

    return (
        e.groupBy("label")
        .applyInPandas(pairs_fn, "a_id BIGINT, b_id BIGINT, cos_sim DOUBLE")
        .transform(sort_result, "a_id", "b_id")
    )


def _connected_groups_oracle() -> str:
    lsh = " ".join(D.minhash_lsh_oracle_sql(threshold=0.5).split())
    return _CONNECTED_GROUPS_ORACLE_TEMPLATE.replace("__LSH_PAIRS__", lsh)


_CONNECTED_GROUPS_ORACLE_TEMPLATE = """
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                   i -> string_split(text,' ')[i] || ' ' ||
                        string_split(text,' ')[i+1] || ' ' ||
                        string_split(text,' ')[i+2])) AS s
        FROM documents
    ),
    shf AS (SELECT * FROM sh WHERE len(s) > 0),
    sizes AS (SELECT doc_id, len(s) * 1.0 AS ns FROM shf),
    ex AS (
        SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(s) AS shingle FROM shf)
    ),
    pairs AS (
        SELECT a_id, b_id FROM (__LSH_PAIRS__)
    ),
    edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION SELECT b_id, a_id FROM pairs
    ),
    reach(v, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r
        FROM reach JOIN edges e ON e.v = reach.v
    ),
    comp AS (SELECT v AS doc_id, MIN(r) AS keeper_id FROM reach GROUP BY v)
    SELECT c.doc_id AS doc_id, c.keeper_id AS keeper_id,
           CAST(g.group_size AS BIGINT) AS group_size
    FROM comp c
    JOIN (SELECT keeper_id, COUNT(*) AS group_size FROM comp GROUP BY 1) g
      ON c.keeper_id = g.keeper_id
    ORDER BY doc_id
    """


@register("dedup_connected_groups", oracle=_connected_groups_oracle())
def dedup_connected_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP resolution: MinHash-LSH screened+verified pairs
    (Jaccard ≥ 0.5) → connected components via min-label propagation →
    (doc, keeper=component min, group size). Pairs come from the LSH
    SCREEN, not the exact inverted-index all-pairs join — the production
    composition: under heavy duplication the all-pairs common-counting
    join scales with posting-list² (measured 44 s vs 7 s for the LSH
    screen at the 10× probe density), while the banded screen's candidate
    work is bounded by bucket collisions. The oracle replays the identical
    LSH pipeline, then closes groups with a recursive CTE (transitive
    closure + min over reachable)."""
    from cobalt_duckdb_spark.operators.graph import dedup_groups

    pairs = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )
    return dedup_groups(pairs).transform(sort_result, "doc_id")


@register(
    "dedup_keep_best_resolution",
    oracle="""
    WITH fp AS (
        SELECT doc_id, n_chars,
               md5(array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' '
               )) AS f
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_chars, f,
               ROW_NUMBER() OVER (
                   PARTITION BY f ORDER BY n_chars DESC, doc_id ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY f) AS group_size
        FROM fp
    )
    SELECT f AS fp, doc_id AS keeper_id,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(group_size - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1 AND group_size > 1
    ORDER BY keeper_id
    """,
)
def dedup_keep_best_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup resolution policy: group docs by a bag-collapse fingerprint
    (md5 of the sorted distinct token set — catches template/shuffled
    near-dups that exact text hashing misses), keep the 'best' copy per
    group (longest text, ties to the lowest id) and report how many rows
    the policy drops — the materialization step that turns dedup signals
    into a cleaned corpus.

    One window over the fingerprint-partitioned rows yields rank and group
    size in a single shuffle (fingerprints are md5 → uniformly distributed,
    no skew at any scale)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    f = F.md5(
        F.concat_ws(" ", F.sort_array(F.array_distinct(F.split(F.col("text"), " "))))
    )
    fp = d.select("doc_id", "n_chars", f.alias("f"))
    w = Window.partitionBy("f")
    ranked = fp.select(
        "doc_id",
        "f",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("group_size") > 1))
        .select(
            F.col("f").alias("fp"),
            F.col("doc_id").alias("keeper_id"),
            F.col("group_size").cast("bigint").alias("group_size"),
            (F.col("group_size") - 1).cast("bigint").alias("n_dropped"),
        )
        .transform(sort_result, "keeper_id")
    )


@register(
    "dedup_eval_contamination",
    oracle="""
    WITH sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                   i -> string_split(text,' ')[i] || ' ' ||
                        string_split(text,' ')[i+1] || ' ' ||
                        string_split(text,' ')[i+2])) AS s
        FROM documents
    ),
    ex AS (
        SELECT doc_id, source, ns,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, source, len(s) * 1.0 AS ns, unnest(s) AS shingle
              FROM sh WHERE len(s) > 0)
    ),
    common AS (
        SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
               ANY_VALUE(e.ns) AS eval_ns, COUNT(*) * 1.0 AS common
        FROM ex e JOIN ex t ON e.h = t.h
        WHERE e.source = 'src0' AND t.source <> 'src0'
        GROUP BY 1, 2
    )
    SELECT eval_id, train_id, ROUND(common / eval_ns, 6) AS containment
    FROM common
    WHERE common / eval_ns >= 0.5
    ORDER BY eval_id, train_id
    """,
)
def dedup_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: training docs that CONTAIN a large
    fraction of an eval doc's shingles (containment = |A∩B| / |A_eval|, the
    asymmetric overlap used for test-set leakage detection — Jaccard would
    under-score a short eval doc embedded in a long training doc).

    Scale shape: inverted-index join on the 32-bit shingle hash (docs meet
    only on shared shingles — never |eval|×|train| pairs), eval side
    filtered before the join so the index probe ships only eval shingles.
    One shared shingle pass via operators/dedup.shingle_hashes."""

    d = load_table(spark, sf_dir, "documents")
    # two consumers (eval probe + train index) of one shingle pass — persist
    # or Spark recomputes the explode+hash lineage per side
    ex = (
        D.shingle_hashes(d, "doc_id", "text", 3)
        .join(d.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=False)
    )
    ev = ex.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_id"), F.col("ns").alias("eval_ns"), "h"
    )
    tr = ex.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("train_id"), "h"
    )
    common = (
        ev.join(tr, "h")
        .groupBy("eval_id", "train_id")
        .agg(
            F.any_value(F.col("eval_ns")).alias("eval_ns"),
            F.count(F.lit(1)).cast("double").alias("common"),
        )
    )
    contain = F.col("common") / F.col("eval_ns")
    return (
        common.filter(contain >= 0.5)
        .select(
            "eval_id", "train_id", F.round(contain, 6).alias("containment")
        )
        .transform(sort_result, "eval_id", "train_id")
    )


@register(
    "dedup_incremental_new_batch",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source,
               md5(text) AS exact_fp,
               md5(array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' '
               )) AS bag_fp
        FROM documents
    ),
    corpus AS (SELECT * FROM fp WHERE source = 'src0'),
    batch AS (SELECT * FROM fp WHERE source <> 'src0'),
    flagged AS (
        SELECT b.doc_id, b.source,
               MAX(CASE WHEN ce.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hit_exact,
               MAX(CASE WHEN cb.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hit_bag
        FROM batch b
        LEFT JOIN corpus ce ON ce.exact_fp = b.exact_fp
        LEFT JOIN corpus cb ON cb.bag_fp = b.bag_fp
        GROUP BY b.doc_id, b.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(hit_exact) AS BIGINT) AS n_exact_dup,
           CAST(SUM(GREATEST(hit_exact, hit_bag)) AS BIGINT) AS n_dup_any,
           CAST(COUNT(*) - SUM(GREATEST(hit_exact, hit_bag)) AS BIGINT)
               AS n_admitted
    FROM flagged
    GROUP BY source ORDER BY source
    """,
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: screen a NEW batch against the EXISTING
    corpus's fingerprint index (src0 plays the corpus; the other sources
    play arriving batches) — the shape every continuously-fed training
    pipeline runs, where re-deduplicating the whole corpus per batch is
    unaffordable. Two signals per batch doc: exact text hash and
    bag-collapse fingerprint; admitted = matched by neither.

    Scale shape: the corpus side is represented ONLY by its two fingerprint
    columns (the persisted dedup index — bytes per doc, not the text);
    both probes are hash equi-joins on md5 keys (uniform, no skew), and the
    per-batch audit is a tiny aggregate. At 100 TB the index is a bucketed
    table on the fingerprint so the probe join is shuffle-free."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        F.md5("text").alias("exact_fp"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " "))))
        ).alias("bag_fp"),
    )
    corpus = fp.filter(F.col("source") == "src0")
    batch = fp.filter(F.col("source") != "src0")
    # the index is DISTINCT fingerprints: joins are at-most-one-match, so a
    # batch doc never multiplies against internal corpus duplicates
    ce = corpus.select(F.col("exact_fp").alias("c_exact")).distinct()
    cb = corpus.select(F.col("bag_fp").alias("c_bag")).distinct()
    flagged = (
        batch.join(ce, batch.exact_fp == ce.c_exact, "left")
        .join(cb, batch.bag_fp == cb.c_bag, "left")
        .groupBy("doc_id", "source")
        .agg(
            F.max(
                F.when(F.col("c_exact").isNotNull(), 1).otherwise(0)
            ).alias("hit_exact"),
            F.max(F.when(F.col("c_bag").isNotNull(), 1).otherwise(0)).alias(
                "hit_bag"
            ),
        )
    )
    dup_any = F.greatest("hit_exact", "hit_bag")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.sum("hit_exact").cast("bigint").alias("n_exact_dup"),
            F.sum(dup_any).cast("bigint").alias("n_dup_any"),
            (F.count(F.lit(1)) - F.sum(dup_any)).cast("bigint").alias("n_admitted"),
        )
        .transform(sort_result, "source")
    )


@register(
    "dedup_shared_span_report",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    spans AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 6),
                      i -> array_to_string(t[i:i+7], ' '))) AS span
        FROM toks WHERE len(t) >= 8
    )
    SELECT span,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM spans
    GROUP BY span
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, span
    LIMIT 25
    """,
)
def dedup_shared_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span report: 8-token windows appearing verbatim in
    ≥2 distinct documents — the span-level view of contamination/boilerplate
    (the "exact substring duplication" signal of Lee et al.'s
    train-data dedup, computed at fixed window width so it stays a pure
    group-by instead of a suffix array). Where the pairwise operators answer
    "which docs overlap", this answers "WHAT text is duplicated and how
    widely" — the report a curation run reads to build a boilerplate
    blocklist.

    Scale shape: shingle explode (one user-key shuffle via fan_out +
    window), per-doc DISTINCT during the explode (collect_set inside
    ``shingle_rows``), then ONE map-side-combined aggregate on span; doc
    frequency = plain COUNT because rows are (doc, span)-distinct by
    construction. Top-k via TakeOrderedAndProject. Span width 8 ≈ the n-gram
    size at which natural-language collisions vanish, so survivors are true
    copies."""
    from cobalt_duckdb_spark.operators.dedup import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    spans = shingle_rows(d, n=8, with_counts=False)
    return (
        spans.groupBy(F.col("shingle").alias("span"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("span"))
        .limit(25)
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH raw AS (
        /* deterministic URL synthesis: the corpus carries no URL column, so
           the differential test plants one per doc with the noise a crawler
           actually sees — uppercase scheme/host, tracking params, fragments,
           trailing slashes; doc_id % 40 collides docs onto shared pages */
        SELECT doc_id,
               'HTTPS://WWW.' || source || '.Example.COM/page/' ||
               CAST(doc_id % 40 AS VARCHAR) ||
               CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
               CASE WHEN doc_id % 2 = 0
                    THEN '?utm_source=feed&utm_campaign=x&ref=' ||
                         CAST(doc_id AS VARCHAR)
                    ELSE '' END ||
               CASE WHEN doc_id % 5 = 0 THEN '#section-' ||
                    CAST(doc_id % 7 AS VARCHAR) ELSE '' END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(url), '#[a-z0-9_-]*$', ''),
                     '[?&](utm_[a-z]+|ref)=[a-z0-9]*', '', 'g'),
                   '[?]$', ''),
                 '/$', '') AS curl
        FROM raw
    ),
    grouped AS (
        SELECT curl, MIN(doc_id) AS keeper_id,
               CAST(COUNT(*) AS BIGINT) AS n_dupes
        FROM canon GROUP BY curl
    )
    SELECT curl, keeper_id, n_dupes
    FROM grouped
    ORDER BY n_dupes DESC, curl ASC
    LIMIT 40
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the first dedup pass of every web-crawl
    curation pipeline (before any content hashing): lowercase scheme/host,
    strip fragments, tracking params (utm_*, ref) and trailing slashes, then
    collapse to one keeper per canonical URL. The synthetic URLs plant every
    noise class on a modulo-colliding page space so the strip/collapse path
    is provably exercised (same salting discipline as text_pii_redaction).

    Regexes stay in the Java-regex ∩ RE2 common subset. Scale shape: pure
    map-side canonicalization + ONE shuffle on the canonical key — at crawl
    scale this is the cheapest dedup there is, which is why it runs first."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM/page/"),
            (F.col("doc_id") % 40).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("?utm_source=feed&utm_campaign=x&ref="),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("#section-"), (F.col("doc_id") % 7).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower("url"), "#[a-z0-9_-]*$", ""),
                "[?&](utm_[a-z]+|ref)=[a-z0-9]*",
                "",
            ),
            "[?]$",
            "",
        ),
        "/$",
        "",
    )
    return (
        raw.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
        )
        .orderBy(F.desc("n_dupes"), F.asc("curl"))
        .limit(40)
    )


@register(
    "dedup_containment_pairs",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                   i -> string_split(text,' ')[i] || ' ' ||
                        string_split(text,' ')[i+1] || ' ' ||
                        string_split(text,' ')[i+2])) AS s
        FROM documents
    ),
    shf AS (SELECT * FROM sh WHERE len(s) > 0),
    sizes AS (SELECT doc_id, len(s) * 1.0 AS ns FROM shf),
    ex AS (
        SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(s) AS shingle FROM shf)
    ),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) * 1.0 AS common
        FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.a_id AS a_id, c.b_id AS b_id,
           ROUND(c.common / LEAST(sa.ns, sb.ns), 6) AS containment,
           ROUND(c.common / (sa.ns + sb.ns - c.common), 6) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.a_id
    JOIN sizes sb ON sb.doc_id = c.b_id
    WHERE c.common / LEAST(sa.ns, sb.ns) >= 0.8
    ORDER BY a_id, b_id
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc duplication: shingle containment ≥ 0.8 w.r.t. the smaller
    document — catches verbatim embedding (quotes, syndication, pasted eval
    items) that symmetric Jaccard scores near zero. Jaccard emitted
    alongside for contrast. Same inverted-index join as the Jaccard pass."""
    d = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(d, threshold=0.8)


@register(
    "dedup_incremental_lsh_near",
    oracle=D.minhash_lsh_incremental_oracle_sql(threshold=0.5),
)
def dedup_incremental_lsh_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup screen (the LSH complement of
    ``dedup_incremental_new_batch``'s exact fingerprints): arriving batches
    (source ≠ src0) probe the corpus's (src0's) persisted band table —
    corpus-internal candidate pairs are never generated, so screening a
    batch costs the batch, not a corpus re-dedup. Per flagged doc: how many
    corpus near-dups, the best Jaccard, and the best-matching corpus id."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") == "src0")
    batch = d.filter(F.col("source") != "src0")
    return D.minhash_lsh_incremental(corpus, batch, threshold=0.5).transform(
        sort_result, "doc_id"
    )


@register("dedup_semdedup_dropped", oracle=D.semdedup_oracle_sql(k=8, eps=0.4))
def dedup_semdedup_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-style cluster assignment bounds
    the pairwise cosine work, then each cluster prunes members ε-similar to a
    canonically-earlier member (closest-to-centroid keeper, deterministic
    total order — no connected-components pass). Returns the DROPPED docs
    with keeper id and cosine. The companion to
    ``dedup_embedding_cosine_pairs``: that one blocks on a given label,
    this one LEARNS the blocking from the embedding geometry itself, which
    is what you run when no label exists. Oracle replays seed assignment,
    rounding, and the keeper order exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    return D.semdedup_dropped(e, k=8, eps=0.4)


@register("dedup_embedding_srp_lsh", oracle=D.srp_lsh_oracle_sql(eps=0.4))
def dedup_embedding_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via signed-random-projection LSH: 64 md5-derived
    sign bits, 8 byte-wide bands, bucket-join candidates, exact-cosine
    verification ≥ 0.4. The labelless / clusterless true-scale screen next
    to ``dedup_embedding_cosine_pairs`` (label blocking) and
    ``dedup_semdedup_dropped`` (learned clustering): candidate cost is the
    bucket-join, never n². Oracle replays hyperplanes, sign rule, byte
    bands, and verification exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    return D.srp_lsh_pairs(e, eps=0.4)


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH pairs AS ({D.minhash_lsh_oracle_sql(threshold=0.5)}),
    tagged AS (
        SELECT LEAST(da.source, db.source) AS src_a,
               GREATEST(da.source, db.source) AS src_b,
               p.jaccard
        FROM pairs p
        JOIN documents da ON da.doc_id = p.a_id
        JOIN documents db ON db.doc_id = p.b_id
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           /* pair-level jaccard is already on the 1e-6 lattice; a double
              AVG re-introduces accumulation-order divergence at volume
              (0.967802 vs 0.967801 — caught by the first full sf1.0
              differential, r8), so the mean uses the exact-decimal
              half-away-from-zero chain. */
           {AVG_JACCARD_SQL} AS avg_jaccard,
           ROUND(MAX(jaccard), 6) AS max_jaccard
    FROM tagged
    GROUP BY src_a, src_b
    ORDER BY src_a, src_b
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash-LSH near-dup pairs rolled up
    by (source, source) — the governance artifact that tells a curation team
    WHICH feeds are re-crawling each other (license leakage, mirror sites,
    syndication) rather than just that duplicates exist. Diagonal rows =
    within-source redundancy; off-diagonal = cross-feed contamination.

    Shape: the pair set is the already-bucketed LSH join; the rollup adds
    two doc_id-keyed hash joins to fetch sources (broadcastable dimension
    at real scale if the doc→source map is a slim sidecar) and a |sources|²
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, threshold=0.5)
    src = d.select("doc_id", "source")
    tagged = (
        pairs.join(src.withColumnRenamed("doc_id", "a_id").withColumnRenamed("source", "sa"), "a_id")
        .join(src.withColumnRenamed("doc_id", "b_id").withColumnRenamed("source", "sb"), "b_id")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "jaccard",
        )
    )
    return (
        tagged.groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            # exact-decimal mean of the 1e-6-lattice pair jaccards — a
            # double AVG diverges in the 6th decimal at sf1.0 volume
            # (accumulation order; r8 full-scale differential catch)
            exact_round_avg("jaccard", dp=6, scale=6).alias("avg_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .transform(sort_result, "src_a", "src_b")
    )


@register(
    "dedup_lsh_quality_audit",
    oracle=D.lsh_quality_audit_oracle_sql(threshold=0.5),
)
def dedup_lsh_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the raw MinHash-LSH band screen vs exact-Jaccard
    ground truth (τ=0.5) — the (bands, rows) tuning audit. See
    ``operators.dedup.lsh_quality_audit``."""
    return D.lsh_quality_audit(load_table(spark, sf_dir, "documents"))


def _cdc_oracle() -> str:
    return f"""
    WITH {D.cdc_oracle_cte()},
    fp AS (
        SELECT fingerprint,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_occ
        FROM chunks GROUP BY fingerprint
    )
    SELECT CAST((SELECT COUNT(*) FROM chunks) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_fp,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_fp,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END) AS BIGINT)
               AS shared_occurrences,
           ROUND((SELECT AVG(n_tokens) FROM chunks), 4) AS avg_chunk_tokens,
           CAST((SELECT MAX(n_tokens) FROM chunks) AS BIGINT)
               AS max_chunk_tokens
    FROM fp
    """


@register("dedup_cdc_chunk_report", oracle=_cdc_oracle())
def dedup_cdc_chunk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup report: rolling-hash chunk
    boundaries (``operators.dedup.cdc_chunks``), then the fingerprint
    redundancy profile — how many chunks exist, how many are distinct, and
    how many fingerprints recur across documents (position-independent
    shared boilerplate). The CDC complement to the fixed-stride
    ``text_chunk_sliding_windows`` and span-level ``dedup_shared_span_report``."""
    chunks = D.cdc_chunks(load_table(spark, sf_dir, "documents"))

    chunks = chunks.localCheckpoint(eager=False)
    totals = chunks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.round(F.avg("n_tokens"), 4).alias("avg_chunk_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_chunk_tokens"),
    )
    fp = chunks.groupBy("fingerprint").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    fpagg = fp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_fp"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_shared_fp"),
        F.sum(F.when(F.col("n_docs") >= 2, F.col("n_occ")).otherwise(0))
        .cast("bigint")
        .alias("shared_occurrences"),
    )
    return totals.crossJoin(F.broadcast(fpagg)).select(
        "n_chunks",
        "n_distinct_fp",
        "n_shared_fp",
        "shared_occurrences",
        "avg_chunk_tokens",
        "max_chunk_tokens",
    )


@register(
    "dedup_minhash_estimator_audit",
    oracle=D.minhash_estimator_audit_oracle_sql(),
)
def dedup_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-estimator error audit: MinHash estimate (matching sig
    components / 32) vs exact Jaccard over the LSH candidate pairs, with
    the binomial-theory stderr alongside. See
    ``operators.dedup.minhash_estimator_audit``."""
    return D.minhash_estimator_audit(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Near-dup family-size report (the dedup executive summary)
# ---------------------------------------------------------------------------


def _family_size_oracle() -> str:
    lsh = " ".join(D.minhash_lsh_oracle_sql(threshold=0.5).split())
    prefix = _CONNECTED_GROUPS_ORACLE_TEMPLATE.replace("__LSH_PAIRS__", lsh)
    # reuse everything up to `comp`, swap the report tail
    prefix = prefix.split("SELECT c.doc_id AS doc_id")[0].rstrip()
    return (
        prefix
        + """,
    fam AS (SELECT keeper_id, COUNT(*) * 1.0 AS gs FROM comp GROUP BY 1),
    hist AS (
        SELECT gs, COUNT(*) * 1.0 AS nf, SUM(gs) AS nd FROM fam GROUP BY gs
    ),
    tot AS (SELECT COUNT(*) * 1.0 AS n FROM documents),
    allrows AS (
        SELECT gs, nf, nd FROM hist
        UNION ALL
        SELECT 1.0, t.n - COALESCE((SELECT SUM(nd) FROM hist), 0),
               t.n - COALESCE((SELECT SUM(nd) FROM hist), 0)
        FROM tot t
    )
    SELECT CAST(gs AS BIGINT) AS family_size,
           CAST(nf AS BIGINT) AS n_families,
           CAST(nd AS BIGINT) AS n_docs,
           ROUND(nd / (SELECT n FROM tot), 4) AS pct_corpus,
           ROUND(SUM(nd - nf) OVER () / (SELECT n FROM tot), 4)
               AS dedup_drop_rate
    FROM allrows
    ORDER BY family_size
    """
    )


@register("dedup_family_size_report", oracle=_family_size_oracle())
def dedup_family_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup EXECUTIVE SUMMARY: distribution of near-duplicate family
    sizes (including the singleton mass the pair pipeline never sees) and
    the headline number every curation review asks for — the drop rate if
    each family keeps one representative. Composes the same LSH-screen →
    connected-components machinery as `dedup_connected_groups` and
    collapses it to the |distinct sizes|-row report that actually goes in
    the datacard; on crawl corpora this histogram's tail (a handful of
    10k-member boilerplate families) is where most of the removable mass
    lives, which per-pair or per-doc outputs cannot show.

    Plan: family sizes are one aggregate over the component labels; the
    singleton row comes from total-minus-covered arithmetic (no scan of
    non-duplicated docs); drop rate is a window sum over the tiny
    histogram frame."""
    from cobalt_duckdb_spark.operators.graph import dedup_groups
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    groups = dedup_groups(D.minhash_lsh_pairs(docs, threshold=0.5))
    fam = groups.groupBy("keeper_id").agg(
        F.count(F.lit(1)).cast("double").alias("gs")
    )
    hist = fam.groupBy("gs").agg(
        F.count(F.lit(1)).cast("double").alias("nf"),
        F.sum("gs").alias("nd"),
    )
    tot = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    covered = hist.agg(
        F.coalesce(F.sum("nd"), F.lit(0.0)).alias("cov")
    )
    singles = (
        tot.crossJoin(covered)
        .select(
            F.lit(1.0).alias("gs"),
            (F.col("n") - F.col("cov")).alias("nf"),
            (F.col("n") - F.col("cov")).alias("nd"),
        )
    )
    allrows = hist.unionByName(singles).crossJoin(F.broadcast(tot))
    wall = Window.partitionBy()
    return allrows.select(
        F.col("gs").cast("bigint").alias("family_size"),
        F.col("nf").cast("bigint").alias("n_families"),
        F.col("nd").cast("bigint").alias("n_docs"),
        F.round(F.col("nd") / F.col("n"), 4).alias("pct_corpus"),
        F.round(
            F.sum(F.col("nd") - F.col("nf")).over(wall) / F.col("n"), 4
        ).alias("dedup_drop_rate"),
    ).orderBy("family_size")
