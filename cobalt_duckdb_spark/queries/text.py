"""Text-analysis pack over ``documents`` (north-star training-data ops):
token stats, quality scoring, language-ID heuristic, fingerprinting, n-gram
profiles. All pure Catalyst expressions — see functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions import text as T
from cobalt_duckdb_spark.functions.exact import (
    _trunc_div,
    exact_round_avg,
    exact_round_avg_int,
    exact_round_avg_int_sql,
    exact_round_avg_sql,
    spark_round_sql,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register

_STOPWORDS = ["the", "a", "of", "and"]
_SW_SQL = "('the', 'a', 'of', 'and')"


@register(
    "text_token_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
           ROUND(AVG(length(replace(text, ' ', '')) * 1.0
                     / len(string_split(text, ' '))), 4) AS avg_token_len
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", T.token_count("text").alias("tc"), T.avg_token_length("text").alias("atl"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tc").alias("total_tokens"),
            F.round(F.avg("tc"), 4).alias("avg_tokens"),
            F.round(F.avg("atl"), 4).alias("avg_token_len"),
        )
        .transform(sort_result, "lang")
    )


@register(
    "text_quality_scores",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS tc,
               len(list_filter(string_split(text, ' '), x -> x IN {_SW_SQL})) * 1.0
                   / len(string_split(text, ' ')) AS swr,
               length(replace(text, ' ', '')) * 1.0
                   / len(string_split(text, ' ')) AS atl
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(tc AS BIGINT) AS token_count,
           ROUND(swr, 6) AS stopword_ratio,
           ROUND(atl, 4) AS avg_token_len,
           ROUND((LEAST(tc / 100.0, 1.0)
                  + (1.0 - ABS(swr - 0.10) / 0.90)
                  + (1.0 - LEAST(ABS(atl - 5.0) / 5.0, 1.0))) / 3.0, 6) AS quality
    FROM scored
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        "lang",
        T.token_count("text").alias("token_count"),
        F.round(T.stopword_ratio("text", _STOPWORDS), 6).alias("stopword_ratio"),
        F.round(T.avg_token_length("text"), 4).alias("avg_token_len"),
        F.round(T.quality_score("text", _STOPWORDS), 6).alias("quality"),
    ).transform(sort_result, "doc_id")


def _langid_oracle() -> str:
    vote_exprs = []
    for lang in sorted(T.LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in T.LANG_MARKERS[lang])
        vote_exprs.append(
            f"len(list_filter(string_split(text, ' '), x -> x IN ({markers}))) AS v_{lang}"
        )
    votes = ", ".join(vote_exprs)
    langs = sorted(T.LANG_MARKERS)
    gmax = "GREATEST(" + ", ".join(f"v_{l}" for l in langs) + ")"
    case = " ".join(f"WHEN v_{l} = {gmax} THEN '{l}'" for l in langs)
    return f"""
    WITH votes AS (SELECT doc_id, lang, {votes} FROM documents)
    SELECT lang,
           CASE WHEN {gmax} = 0 THEN 'und' {case} END AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM votes GROUP BY 1, 2 ORDER BY lang, predicted
    """


@register("text_langid_confusion", oracle=_langid_oracle())
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-token argmax) vs the labeled lang column,
    as a confusion matrix."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        d.select("lang", T.predicted_lang("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .transform(sort_result, "lang", "predicted")
    )


@register(
    "text_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select("doc_id", T.fingerprint("text").alias("fp")).transform(
        sort_result, "doc_id"
    )


@register(
    "text_top_bigrams",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         bg AS (SELECT unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i + 1])) AS bigram
                FROM toks)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    t = T.tokens("text")
    # single-token docs must yield ZERO bigrams: Spark's sequence(0, -1)
    # counts DOWN and the i+1 slice start would then be 0 — an ANSI-mode
    # runtime error (same guard as functions.text.shingles)
    gen = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, 2)),
    )
    bigrams = F.when(F.size(t) >= 2, gen).otherwise(
        F.array().cast("array<string>")
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "text_levenshtein_near_titles",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN d BETWEEN 1 AND 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
           {avg_dist} AS avg_dist
    FROM (
        SELECT a.p_brand AS p_brand,
               levenshtein(a.p_name, b.p_name) AS d
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
          AND levenshtein(a.p_name, b.p_name) <= 3
    )
    GROUP BY p_brand ORDER BY p_brand
    """.replace("{avg_dist}", exact_round_avg_int_sql("d", 4, 0)),
)
def text_levenshtein_near_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-matching (fuzzy dedup for short strings like
    titles/SKUs): same-brand part-name pairs within Levenshtein 3,
    aggregated per brand (pair-level output explodes on this small-vocab
    corpus — half a million rows at sf0.1 — so the query returns the
    bounded per-block audit a pipeline actually monitors).

    Scale shape (rewritten round 7 — the sf1.0 sweep caught the original
    row-level self-join at slope 6.95 on the 0.1→1.0 leg): brand blocks
    grow LINEARLY with data while brand cardinality stays fixed, so a
    row-level blocked self-join is quadratic in data size. The Levenshtein
    work is instead computed once per DISTINCT (brand, name) pair — the
    distinct frame is vocabulary-sized, not data-sized — and the pair
    counts are recovered arithmetically: a name pair (x ≠ y) contributes
    cnt_x·cnt_y key-ordered row pairs, a repeated name contributes
    C(cnt,2) exact-duplicate pairs with d = 0. Aggregates are weighted
    sums, bit-identical to the oracle's row-level form (Σd over rows =
    Σd·w over distinct pairs). At 100 TB this is one (brand, name)
    count shuffle + an O(vocab²)-per-brand broadcast join; dedupe-first
    is exactly how production fuzzy-dedup composes with blocking, and a
    genuinely unbounded title vocabulary would swap the distinct
    cross-join for PassJoin segment signatures without touching the
    weighting."""
    p = load_table(spark, sf_dir, "part")
    dn = p.groupBy("p_brand", "p_name").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a = dn.select(
        "p_brand", F.col("p_name").alias("a_name"), F.col("cnt").alias("a_cnt")
    )
    b = dn.select(
        "p_brand", F.col("p_name").alias("b_name"), F.col("cnt").alias("b_cnt")
    )
    cross = (
        a.join(F.broadcast(b), "p_brand")
        .filter(F.col("a_name") < F.col("b_name"))
        # |len(a)−len(b)| > 3 ⇒ edit_dist > 3: O(1) prune before the O(n·m)
        # dynamic program (implied by the threshold — results unchanged)
        .filter(F.abs(F.length("a_name") - F.length("b_name")) <= 3)
        .withColumn("d", F.levenshtein("a_name", "b_name").cast("bigint"))
        .filter(F.col("d") <= 3)
        .select(
            "p_brand", "d", (F.col("a_cnt") * F.col("b_cnt")).alias("w")
        )
    )
    same = (
        dn.filter(F.col("cnt") >= 2)
        .select(
            "p_brand",
            F.lit(0).cast("bigint").alias("d"),
            F.expr("CAST(cnt * (cnt - 1) DIV 2 AS BIGINT)").alias("w"),
        )
    )
    pairs = cross.unionByName(same)
    # weighted twin of exact_round_avg_int (unit_scale=0): the oracle's
    # SUM(d)/COUNT(d) over row pairs equals Σd·w / Σw over distinct pairs
    # exactly (integers on both sides), so the half-away-from-zero rounding
    # is performed on the identical rational number.
    sd = F.sum(F.col("d") * F.col("w"))
    n = F.sum("w")
    num = sd.cast("decimal(38,0)") * F.lit(10**4)
    den = F.greatest(n, F.lit(1)).cast("decimal(38,0)")
    m = _trunc_div(2 * F.abs(num) + den, 2 * den)
    avg = F.when(
        n > 0,
        F.when(num < 0, -m).otherwise(m).cast("double") / F.lit(1e4),
    )
    return (
        pairs.groupBy("p_brand")
        .agg(
            F.sum("w").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("d") == 0, F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("n_exact"),
            F.sum(F.when(F.col("d").between(1, 3), F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("n_near"),
            avg.alias("avg_dist"),
        )
        .transform(sort_result, "p_brand")
    )


@register(
    "text_bpe_ish_token_count",
    oracle="""
    SELECT lang,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')))
               AS BIGINT) AS bpe_ish_tokens,
           ROUND(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')))
                 * 1.0 / SUM(len(string_split(text, ' '))), 4) AS expansion_ratio
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_bpe_ish_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (north star): whitespace tokens vs a BPE-ish
    regex segmentation (letter runs / digit runs / single punctuation) and
    the expansion ratio — the cheap proxy for LLM token cost per document.
    Same regex class semantics in both engines."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    ws = F.size(F.split(F.col("text"), " ")).cast("bigint")
    bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), F.lit(0)
        )
    ).cast("bigint")
    return (
        d.select("lang", ws.alias("ws"), bpe.alias("bpe"))
        .groupBy("lang")
        .agg(
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_ish_tokens"),
            F.round(F.sum("bpe") * 1.0 / F.sum("ws"), 4).alias("expansion_ratio"),
        )
        .transform(sort_result, "lang")
    )


_BM25_QUERY = ["spark", "join", "vector", "window"]


@register(
    "text_bm25_topk",
    oracle=__import__(
        "cobalt_duckdb_spark.operators.bm25", fromlist=["bm25_oracle_sql"]
    ).bm25_oracle_sql(_BM25_QUERY, k=15),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (reference dependency surface: rank_bm25,
    /root/reference/requirements.txt:31): top-15 documents for a bag-of-terms
    query. tf/df/idf as pure Catalyst aggregates — the token stream is
    filtered to the query's terms before any shuffle, dl comes from the doc
    row itself (no corpus self-join), and df/avgdl/N are broadcast scalars.
    See operators/bm25.py for the full scale analysis."""
    from cobalt_duckdb_spark.operators.bm25 import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, _BM25_QUERY, k=15)


@register(
    "text_repetition_scores",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    per_tok AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    ),
    freq AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_c
        FROM per_tok GROUP BY doc_id
    ),
    grams AS (
        SELECT doc_id,
               len(string_split(text, ' ')) - 3 AS total4,
               len(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 2),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2] || ' ' ||
                        string_split(text, ' ')[i+3]))) AS d4
        FROM documents
        WHERE len(string_split(text, ' ')) >= 4
    )
    SELECT f.doc_id AS doc_id, f.n_tokens,
           ROUND(f.top_c * 1.0 / f.n_tokens, 6) AS top_token_frac,
           ROUND(1.0 - g.d4 * 1.0 / g.total4, 6) AS dup_4gram_frac
    FROM freq f JOIN grams g ON f.doc_id = g.doc_id
    ORDER BY doc_id
    """,
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/RefinedWeb-style filters a
    training-data pipeline runs before model scoring): per doc, the fraction
    of tokens taken by the single most frequent token, and the fraction of
    duplicate 4-grams (1 − distinct/total).

    Scale shape: token frequencies via fan-out explode → two-level hash agg
    (partial map-side combine; one shuffle keyed by doc_id); distinct
    4-grams via the shared posexplode + window-lead shingle stage
    (operators/dedup.shingle_rows — codegen'd, not interpreted array
    lambdas). Both sides are one-row-per-doc before the join, so the join
    shuffles only doc-sized tables."""
    from cobalt_duckdb_spark.operators.dedup import fan_out, shingle_rows

    d = load_table(spark, sf_dir, "documents")
    per_tok = (
        fan_out(d.select("doc_id", "text"), by="doc_id")
        .select("doc_id", F.explode(T.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    freq = per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.max("c").alias("top_c"),
    )
    d4 = (
        shingle_rows(d, n=4, with_counts=False)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("d4"))
    )
    total4 = d.select(
        "doc_id", (F.size(T.tokens("text")) - 3).alias("total4")
    ).filter(F.size(T.tokens("text")) >= 4)
    return (
        freq.join(d4, "doc_id")
        .join(total4, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("top_c") / F.col("n_tokens"), 6).alias(
                "top_token_frac"
            ),
            F.round(1.0 - F.col("d4") / F.col("total4"), 6).alias(
                "dup_4gram_frac"
            ),
        )
        .transform(sort_result, "doc_id")
    )


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> [t[i], t[i + 1]])) AS b
        FROM toks WHERE len(t) >= 2
    ),
    bg2 AS (SELECT doc_id, b[1] AS w1, b[2] AS w2 FROM bg),
    big_c AS (SELECT w1, w2, COUNT(*) * 1.0 AS c12 FROM bg2 GROUP BY w1, w2),
    uni_c AS (SELECT w1, COUNT(*) * 1.0 AS c1 FROM bg2 GROUP BY w1)
    SELECT d.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           /* spark_round_sql: a doc whose every bigram is deterministic
              (c12 = c1 throughout — 2-token docs on sparse worlds) has
              nll = -AVG(ln 1) = IEEE -0.0; DuckDB ROUND keeps the sign,
              Spark normalizes (r9 signed-zero sweep) */
           {spark_round_sql('-AVG(ln(bc.c12 / uc.c1))', 4)} AS nll
    FROM bg2 d
    JOIN big_c bc ON d.w1 = bc.w1 AND d.w2 = bc.w2
    JOIN uni_c uc ON d.w1 = uc.w1
    GROUP BY d.doc_id
    ORDER BY doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical LM quality scoring (perplexity proxy): train a corpus
    bigram MLE model and score every doc by its average negative log
    probability — high-NLL docs are the improbable/garbled ones a pipeline
    quarantines, low-NLL docs the boilerplate-repetitive ones it downweights.
    Self-scoring against the corpus model means every doc bigram exists in
    the counts — no smoothing term to diverge on.

    Scale shape: ONE bigram stream (persisted) feeds all three consumers —
    the per-doc rows, the bigram counts, and the context counts. Bigrams are
    built SHUFFLE-FREE by zipping the token array against itself shifted by
    one (slice+arrays_zip, all Catalyst) — no posexplode + per-doc window,
    which would shuffle every token row just to pair neighbors. Count tables
    join back on their keys (bigram vocab can exceed broadcast size at
    100 TB, so these stay shuffle joins on uniform hash keys); the per-doc
    aggregate is the only doc-keyed shuffle."""

    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = load_table(spark, sf_dir, "documents")
    t = T.tokens("text")
    pairs = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 1).alias("w1"),
        F.slice(t, 2, F.size(t) - 1).alias("w2"),
    )
    bg = (
        fan_out(d.select("doc_id", "text"), by="doc_id")
        .filter(F.size(t) >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .localCheckpoint(eager=False)
    )
    big_c = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c12")
    )
    uni_c = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("c1"))
    return (
        bg.join(big_c, ["w1", "w2"])
        .join(uni_c, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(-F.avg(F.log(F.col("c12") / F.col("c1"))), 4).alias("nll"),
        )
        .transform(sort_result, "doc_id")
    )


@register(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    ranked AS (
        SELECT w, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rn,
               SUM(c) OVER (ORDER BY c DESC, w
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS tot
        FROM counts
    )
    SELECT t.thr AS coverage,
           CAST(MIN(rn) AS BIGINT) AS vocab_size,
           CAST(MAX(tot) AS BIGINT) AS total_tokens
    FROM ranked CROSS JOIN (VALUES (0.5), (0.9), (0.99)) t(thr)
    WHERE cum >= t.thr * tot
    GROUP BY t.thr
    ORDER BY coverage
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the smallest frequency-ranked vocab that
    covers 50/90/99% of all token occurrences — the sizing question every
    tokenizer/vocab build answers first (and a long-tail health check: a
    corpus whose 99% point needs millions of types is noise-heavy).

    Scale shape: token counting is the heavy stage (explode + groupBy, one
    shuffle, map-side combine). The cumulative stage runs over the VOCAB
    (types, not occurrences) — orders of magnitude smaller; its global-order
    window is a range-partitioned sort in Spark, acceptable because the
    input is already aggregate-sized. Threshold fan-out is a 3-row cross
    join against that."""
    from pyspark.sql import Window

    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = load_table(spark, sf_dir, "documents")
    counts = (
        fan_out(d.select("text"))
        .select(F.explode(T.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_ord = Window.orderBy(F.desc("c"), F.asc("w"))
    ranked = counts.select(
        F.row_number().over(w_ord).alias("rn"),
        F.sum("c").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot"),
    )
    thr = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("coverage")
    )
    return (
        ranked.crossJoin(F.broadcast(thr))
        .filter(F.col("cum") >= F.col("coverage") * F.col("tot"))
        .groupBy("coverage")
        .agg(
            F.min("rn").cast("bigint").alias("vocab_size"),
            F.max("tot").cast("bigint").alias("total_tokens"),
        )
        .orderBy("coverage")
    )


@register(
    "text_bpe_merge_pairs",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wf AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(w)),
                      i -> substr(w, CAST(i AS INT), 2))) AS pair,
               freq
        FROM wf WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, round 1: the most frequent adjacent
    character pairs weighted by word frequency — the statistic a BPE/WordPiece
    vocab build computes to pick each merge. (Full training iterates; each
    round is exactly this query over re-segmented words, so the round IS the
    scale primitive.)

    Scale shape: pair counting runs over the WORD-FREQUENCY table (types ×
    word length), not the token stream — the corpus-size-to-vocab-size
    reduction happens in the first groupBy, everything after is
    aggregate-sized. Character pairs via substr over a sequence (all
    Catalyst; no UDF)."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = load_table(spark, sf_dir, "documents")
    wf = (
        fan_out(d.select("text"))
        .select(F.explode(T.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("w") >= 2)
    )
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.substr(F.col("w"), i, F.lit(2)),
    )
    return (
        wf.select(F.explode(pair_arr).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@register(
    "text_pmi_collocations",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
    utot AS (SELECT SUM(n) * 1.0 AS tot FROM ucnt),
    bg AS (SELECT unnest(list_transform(range(1, len(t)),
                   i -> t[i] || ' ' || t[i + 1])) AS bigram
           FROM toks),
    bcnt AS (SELECT bigram, COUNT(*) AS nb FROM bg GROUP BY bigram),
    btot AS (SELECT SUM(nb) * 1.0 AS tot FROM bcnt)
    SELECT b.bigram AS bigram,
           CAST(b.nb AS BIGINT) AS n,
           ROUND(LN((b.nb / (SELECT tot FROM btot))
                    / ((u1.n / (SELECT tot FROM utot))
                       * (u2.n / (SELECT tot FROM utot)))), 6) AS pmi
    FROM bcnt b
    JOIN ucnt u1 ON u1.w = split_part(b.bigram, ' ', 1)
    JOIN ucnt u2 ON u2.w = split_part(b.bigram, ' ', 2)
    WHERE b.nb >= 5
    ORDER BY pmi DESC, bigram LIMIT 25
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — the
    statistically-weighted upgrade of ``text_top_bigrams``: raw counts rank
    "the the"-style frequency; PMI = ln(p(xy)/(p(x)p(y))) ranks pairs that
    co-occur MORE than their unigram frequencies predict (true collocations).
    Standard first pass for multi-word-expression mining over a corpus.

    Scale shape: unigram and bigram counts are two map-side-combined
    aggregates over the exploded token stream; the vocabulary tables they
    produce are tiny relative to the corpus (Heaps' law), so both PMI joins
    broadcast. The ≥5 count floor removes the unstable low-frequency tail
    (PMI's known bias toward hapax pairs). Ordering is by the ROUNDED score
    with a bigram tiebreak so the cross-engine ulp in ln() can't reorder the
    cut line."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    t = T.tokens("text")
    uni = (
        d.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    utot = uni.agg(F.sum("n").cast("double").alias("utot"))
    # guarded like functions.text.shingles: a 1-token doc must emit zero
    # bigrams, not a descending sequence + slice(0) ANSI error
    gen = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, 2)),
    )
    bigrams = F.when(F.size(t) >= 2, gen).otherwise(
        F.array().cast("array<string>")
    )
    bcnt_all = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("nb"))
        # localCheckpoint, not persist: blocks are ContextCleaner-freed when
        # the plan is GC'd; SQL cache would outlive the query in the
        # driver's long-running session
        .localCheckpoint(eager=False)
    )
    # total bigram mass folded from the count table — the corpus-sized
    # explode runs ONCE and both consumers read the materialized vocab table
    btot_df = bcnt_all.agg(F.sum("nb").cast("double").alias("btot"))
    bcnt = bcnt_all.filter(F.col("nb") >= 5)
    u1 = uni.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    pmi = F.round(
        F.log(
            (F.col("nb") / F.col("btot"))
            / ((F.col("n1") / F.col("utot")) * (F.col("n2") / F.col("utot")))
        ),
        6,
    )
    return (
        bcnt.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot_df))
        .select(
            "bigram",
            F.col("nb").cast("bigint").alias("n"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(25)
    )


@register(
    "text_tfidf_keywords",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    nd AS (SELECT COUNT(*) * 1.0 AS n FROM documents),
    scored AS (
        SELECT t.doc_id, t.w, t.tf,
               ROUND(t.tf * LN((SELECT n FROM nd) / d.df), 6) AS tfidf
        FROM tf t JOIN df d ON t.w = d.w
    )
    SELECT doc_id, w AS keyword, CAST(tf AS BIGINT) AS tf, tfidf,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn
          FROM scored)
    WHERE rn <= 3 AND doc_id < 25
    ORDER BY doc_id, rank
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by tf·idf — the cheap
    doc-level summarizer a curation pipeline uses for faceting/labeling
    before any model runs. idf uses the full corpus; the doc_id cut applies
    only at output so scores don't depend on the slice requested.

    Scale shape: tf is one map-side-combined aggregate over the exploded
    token stream partitioned by (doc, token); df folds tf by token (already
    distinct per doc, so a plain count — no second distinct shuffle); the
    vocabulary-sized df table broadcasts back. Top-3 per doc rides the
    existing doc partition. ln(N/df) [plain idf] rather than smoothed: df>0
    by construction here; rounded BEFORE ranking so the cross-engine ulp in
    ln can't reorder the per-doc cut."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(T.tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "w",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") < 25))
        .select(
            "doc_id",
            F.col("w").alias("keyword"),
            F.col("tf").cast("bigint").alias("tf"),
            "tfidf",
            "rank",
        )
        .transform(sort_result, "doc_id", "rank")
    )


# Gopher-style rule thresholds (Rae et al. 2021, Appendix A — adapted to the
# synthetic corpus's scale: docs here are 20-100 words of space-separated
# tokens, so the word-count band is narrowed from [50, 100k] to [25, 500]).
_G_MIN_WORDS, _G_MAX_WORDS = 25, 500
_G_MIN_MWL, _G_MAX_MWL = 2.0, 10.0
_G_MIN_STOPWORDS = 2  # distinct stopwords that must appear
_G_MAX_TOP_FRAC = 0.2  # most-frequent-word mass cap (repetition rule)


@register(
    "text_gopher_quality_flags",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id < 300
    ),
    wc AS (
        SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
    ),
    per_doc AS (
        SELECT doc_id,
               SUM(c) AS n_words,
               SUM(c * length(w)) * 1.0 / SUM(c) AS mean_word_len,
               MAX(c) * 1.0 / SUM(c) AS top_word_frac,
               COUNT(DISTINCT CASE WHEN w IN ('the', 'a', 'of', 'and')
                                   THEN w END) AS n_stop
        FROM wc GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(mean_word_len, 4) AS mean_word_len,
           ROUND(top_word_frac, 4) AS top_word_frac,
           (n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}) AS flag_n_words,
           (mean_word_len BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}) AS flag_mean_len,
           (n_stop >= {_G_MIN_STOPWORDS}) AS flag_stopwords,
           (top_word_frac <= {_G_MAX_TOP_FRAC}) AS flag_repetition,
           ((n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
            AND (mean_word_len BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL})
            AND n_stop >= {_G_MIN_STOPWORDS}
            AND top_word_frac <= {_G_MAX_TOP_FRAC}) AS keep
    FROM per_doc
    ORDER BY doc_id
    """,
)
def text_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021's heuristic
    pack: word-count band, mean-word-length band, stopword presence,
    repetition cap) as per-doc boolean flags + a composed ``keep`` decision —
    the curation-pipeline complement to ``text_quality_scores``' continuous
    score: scores rank, flags GATE, and a pipeline audits WHY a doc was
    dropped by reading which flag tripped.

    Scale shape: one explode + two-level aggregate keyed by doc_id — the
    (doc, word) count table partial-aggregates map-side, the per-doc
    reduction reuses the same key, so one shuffle end-to-end and no
    collect. At 100 TB each rule stays a pure column expression; adding a
    rule adds zero shuffles."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        (F.sum(F.col("c") * F.length("w")) / F.sum("c")).alias("mwl"),
        (F.max("c") / F.sum("c")).alias("twf"),
        F.count_distinct(
            F.when(F.col("w").isin(_STOPWORDS), F.col("w"))
        ).alias("n_stop"),
    )
    flag_n = F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS)
    flag_m = F.col("mwl").between(_G_MIN_MWL, _G_MAX_MWL)
    flag_s = F.col("n_stop") >= _G_MIN_STOPWORDS
    flag_r = F.col("twf") <= _G_MAX_TOP_FRAC
    return per_doc.select(
        "doc_id",
        "n_words",
        F.round("mwl", 4).alias("mean_word_len"),
        F.round("twf", 4).alias("top_word_frac"),
        flag_n.alias("flag_n_words"),
        flag_m.alias("flag_mean_len"),
        flag_s.alias("flag_stopwords"),
        flag_r.alias("flag_repetition"),
        (flag_n & flag_m & flag_s & flag_r).alias("keep"),
    ).transform(sort_result, "doc_id")


_CHUNK_W = 64  # tokens per chunk
_CHUNK_STRIDE = 32  # 50% overlap


@register(
    "text_chunk_sliding_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE doc_id < 200
    ),
    chunks AS (
        SELECT doc_id,
               unnest(range(0, GREATEST(len(t) - {_CHUNK_W} + {_CHUNK_STRIDE}, 1),
                      {_CHUNK_STRIDE})) AS start0,
               t
        FROM toks
    )
    SELECT doc_id,
           CAST(start0 / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           array_to_string(t[start0 + 1 : start0 + {_CHUNK_W}], ' ') AS chunk_text,
           CAST(LEAST({_CHUNK_W}, len(t) - start0) AS BIGINT) AS n_tokens
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token windows, stride 32 → 50%
    overlap) — the context-window prep step of every RAG / embedding-training
    pipeline: long docs become overlapping chunks that each fit a model
    window, with provenance (doc_id, chunk_idx) carried for dedup-by-parent
    and citation. Tail rule: last window starts at the final stride multiple
    below len−W+stride, so every token lands in ≥1 chunk and no empty chunks
    emit.

    Scale shape: tokenize once, generate chunk starts with ``sequence`` and
    ``posexplode`` — a pure map-side row multiplier (×⌈len/stride⌉), no
    shuffle at all until a downstream op keys on something. The chunk text
    is ``slice`` + ``concat_ws`` over the already-split token array — no
    re-tokenization per chunk."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("t") - _CHUNK_W + _CHUNK_STRIDE - 1, F.lit(0)),
        F.lit(_CHUNK_STRIDE),
    )
    ch = toks.select("doc_id", "t", F.explode(starts).alias("start0"))
    return ch.select(
        "doc_id",
        (F.col("start0") / _CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.concat_ws(" ", F.slice("t", F.col("start0") + 1, _CHUNK_W)).alias(
            "chunk_text"
        ),
        F.least(F.lit(_CHUNK_W), F.size("t") - F.col("start0"))
        .cast("bigint")
        .alias("n_tokens"),
    ).transform(sort_result, "doc_id", "chunk_idx")


# Cross-engine-safe PII patterns: plain character classes and counted
# repetitions only — the subset where Java regex (Spark) and RE2 (DuckDB)
# agree exactly. No backrefs, no lookaround.
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9]+[.][a-z]+"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redaction",
    oracle=f"""
    WITH salted AS (
        /* deterministic PII injection: the synthetic corpus carries no real
           PII, so the differential test plants one email + one phone per
           doc — the redaction path is then provably exercised on every row */
        SELECT doc_id,
               text || ' contact u' || doc_id ||
               '@mail.com tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
               '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents WHERE doc_id < 150
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
           regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g') AS redacted
    FROM salted
    ORDER BY doc_id
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the redaction pass every public-corpus curation pipeline
    runs before training: detect + mask emails and phone numbers, keeping
    per-doc counts for the audit trail. Patterns are restricted to the
    Java-regex ∩ RE2 common subset (plain classes, counted repetition) so
    both engines provably apply identical semantics; the corpus carries no
    real PII, so a deterministic salt plants one of each per row — the
    differential check exercises the match/replace path on every document
    instead of vacuously passing on zero matches.

    Scale shape: pure map-side projection (regexp_extract_all + two
    regexp_replace chains, all codegen'd) — zero shuffles; at 100 TB this
    runs at scan speed, which is exactly what a redaction pass must do."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150))
    salted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@mail.com tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return salted.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ).alias("redacted"),
    ).transform(sort_result, "doc_id")


@register(
    "text_corpus_drift_kl",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (SELECT source, w, COUNT(*) * 1.0 AS c FROM tok GROUP BY 1, 2),
    base AS (SELECT w, c AS cb FROM counts WHERE source = 'src0'),
    oth AS (SELECT * FROM counts WHERE source <> 'src0'),
    vocab AS (
        SELECT source, w FROM oth
        UNION
        SELECT s.source, b.w
        FROM (SELECT DISTINCT source FROM oth) s CROSS JOIN base b
    ),
    jj AS (
        SELECT v.source, v.w, COALESCE(o.c, 0) AS cs, COALESCE(b.cb, 0) AS cb
        FROM vocab v
        LEFT JOIN oth o ON o.source = v.source AND o.w = v.w
        LEFT JOIN base b ON b.w = v.w
    ),
    tt AS (
        SELECT source, cs, cb,
               SUM(cs) OVER (PARTITION BY source) AS ns,
               SUM(cb) OVER (PARTITION BY source) AS nb,
               COUNT(*) OVER (PARTITION BY source) AS vu
        FROM jj
    ),
    pq AS (
        SELECT source, cs, cb,
               (cs + 1) / (ns + vu) AS p,
               (cb + 1) / (nb + vu) AS q
        FROM tt
    )
    SELECT source,
           CAST(SUM(cs) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_union,
           ROUND(SUM(CASE WHEN cs > 0 AND cb > 0 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS overlap_ratio,
           ROUND(SUM(p * ln(p / q)), 6) AS kl_vs_base,
           ROUND(0.5 * SUM(p * ln(p / ((p + q) / 2)))
                 + 0.5 * SUM(q * ln(q / ((p + q) / 2))), 6) AS js_vs_base
    FROM pq GROUP BY source ORDER BY source
    """,
)
def text_corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift audit: per-source unigram KL and Jensen-Shannon
    divergence against the baseline slice (source = 'src0') with Laplace
    smoothing over the pairwise union vocab, plus vocab overlap — the
    distribution-shift monitor a training pipeline runs when a new crawl
    batch or source lands (is this slice "the same language" as what the
    model trained on?).

    Shape: one (source, token) count shuffle; a token-keyed window attaches
    the baseline count, and each baseline row fans out to the sources that
    lack the token — the per-pair union vocab without a join; divergences
    are plain mergeable sums. JS is bounded [0, ln 2] and symmetric — the
    reported pair (kl, js) separates "new words" (overlap) from
    "reweighted words" (divergence on shared vocab)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    counts = tok.groupBy("source", "w").agg(
        F.count("*").cast("double").alias("c")
    )
    others = counts.filter(F.col("source") != "src0").agg(
        F.collect_set("source").alias("others")
    )
    by_token = Window.partitionBy("w")
    is_base = F.col("source") == "src0"

    def cell(src, cs, cb):
        return F.struct(src.alias("source"), cs.alias("cs"), cb.alias("cb"))

    jj = (
        counts.select(
            "source",
            "c",
            F.max(F.when(is_base, F.col("c"))).over(by_token).alias("base_c"),
            F.collect_set("source").over(by_token).alias("have"),
        )
        .crossJoin(F.broadcast(others))
        .select(
            F.inline(
                F.when(
                    is_base,
                    F.transform(
                        F.array_except("others", "have"),
                        lambda src: cell(src, F.lit(0.0), F.col("c")),
                    ),
                ).otherwise(
                    F.array(
                        cell(
                            F.col("source"),
                            F.col("c"),
                            F.coalesce("base_c", F.lit(0.0)),
                        )
                    )
                )
            )
        )
    )
    w = Window.partitionBy("source")
    pq = jj.select(
        "source",
        "cs",
        "cb",
        ((F.col("cs") + 1) / (F.sum("cs").over(w) + F.count("*").over(w))).alias("p"),
        ((F.col("cb") + 1) / (F.sum("cb").over(w) + F.count("*").over(w))).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    return (
        pq.groupBy("source")
        .agg(
            F.sum("cs").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab_union"),
            F.round(
                F.sum(
                    F.when((F.col("cs") > 0) & (F.col("cb") > 0), 1).otherwise(0)
                )
                / F.count("*"),
                6,
            ).alias("overlap_ratio"),
            F.round(
                F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6
            ).alias("kl_vs_base"),
            F.round(
                0.5 * F.sum(F.col("p") * F.log(F.col("p") / m))
                + 0.5 * F.sum(F.col("q") * F.log(F.col("q") / m)),
                6,
            ).alias("js_vs_base"),
        )
        .transform(sort_result, "source")
    )


@register(
    "text_normalization_audit",
    oracle="""
    WITH norm AS (
        SELECT doc_id, text,
               lower(text) AS s1,
               trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS s2,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')) AS s3
        FROM documents
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN s1 <> text THEN 1 ELSE 0 END) AS BIGINT)
            AS changed_by_lower,
        CAST(SUM(CASE WHEN s2 <> s1 THEN 1 ELSE 0 END) AS BIGINT)
            AS changed_by_spacing,
        CAST(SUM(CASE WHEN s3 <> s2 THEN 1 ELSE 0 END) AS BIGINT)
            AS changed_by_punct,
        CAST(SUM(CASE WHEN trim(regexp_replace(
                 regexp_replace(lower(s3), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g')) <> s3 THEN 1 ELSE 0 END) AS BIGINT)
            AS non_idempotent,
        CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_raw,
        CAST(COUNT(DISTINCT md5(s3)) AS BIGINT) AS distinct_normalized
    FROM norm
    """,
)
def text_normalization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-cascade audit: how many docs each cleanup rule
    (lowercase → whitespace collapse → punctuation strip) actually changes,
    whether the full cascade is IDEMPOTENT (applying it twice must be a
    no-op — the property that makes re-running a pipeline safe), and how
    many exact-dup groups normalization newly collapses
    (distinct_raw − distinct_normalized = dupes that only differ in case/
    spacing/punctuation — run BEFORE ``dedup_exact_fingerprint`` to catch
    them). Extends the reference's markdown cleanup chain
    (``/root/reference/model/data/notion_db.py:163-168``) with the audit a
    production pipeline wraps around it. Pure map-side expressions, one
    global aggregate."""
    d = load_table(spark, sf_dir, "documents")
    s1 = F.lower(F.col("text"))
    s2 = F.trim(F.regexp_replace(s1, " +", " "))
    s3 = F.trim(
        F.regexp_replace(F.regexp_replace(s1, "[^a-z0-9 ]", ""), " +", " ")
    )
    renorm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(s3), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    norm = d.select(
        "text",
        s1.alias("s1"),
        s2.alias("s2"),
        s3.alias("s3"),
        renorm.alias("s4"),
    )
    return norm.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("s1") != F.col("text"), 1).otherwise(0))
        .cast("bigint")
        .alias("changed_by_lower"),
        F.sum(F.when(F.col("s2") != F.col("s1"), 1).otherwise(0))
        .cast("bigint")
        .alias("changed_by_spacing"),
        F.sum(F.when(F.col("s3") != F.col("s2"), 1).otherwise(0))
        .cast("bigint")
        .alias("changed_by_punct"),
        F.sum(F.when(F.col("s4") != F.col("s3"), 1).otherwise(0))
        .cast("bigint")
        .alias("non_idempotent"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("distinct_raw"),
        F.countDistinct(F.md5("s3")).cast("bigint").alias("distinct_normalized"),
    )


@register(
    "text_mojibake_screen",
    oracle="""
    WITH salted AS (
        /* plant every noise class deterministically so the detectors are
           provably exercised: U+FFFD replacement chars (doc_id%7=0),
           a C0 control char (doc_id%11=0), and a 'Latin-1 read as UTF-8'
           digraph (doc_id%13=0) */
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 7 = 0
                    THEN repeat(chr(65533), CAST(doc_id % 3 + 1 AS INT))
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END ||
               CASE WHEN doc_id % 13 = 0
                    THEN chr(195) || chr(169) ELSE '' END AS s
        FROM documents
    ),
    counted AS (
        SELECT doc_id,
               length(s) - length(replace(s, chr(65533), ''))
                   AS n_replacement,
               length(s) - length(replace(s, chr(7), '')) AS n_control,
               (length(s) - length(replace(s, chr(195) || chr(169), ''))) / 2
                   AS n_mojibake
        FROM salted
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_replacement + n_control + n_mojibake > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN n_replacement > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_replacement,
           CAST(SUM(CASE WHEN n_control > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_control,
           CAST(SUM(CASE WHEN n_mojibake > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_mojibake,
           CAST(SUM(n_replacement) AS BIGINT) AS total_replacement_chars,
           ROUND(SUM(CASE WHEN n_replacement + n_control + n_mojibake > 0
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS flagged_share
    FROM counted
    """,
)
def text_mojibake_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage screen — the quality gate that catches mojibake
    BEFORE it poisons tokenizers: U+FFFD replacement characters (lossy
    decode already happened), C0 control characters (binary bleed), and
    the 'Ã©'-style digraph left by reading Latin-1 bytes as UTF-8. Since
    the synthetic corpus is clean ASCII, each noise class is planted
    deterministically by doc_id (the PII-redaction salting pattern), so
    every detector fires on a known row set and the counts are exact.

    Detection is replace-and-compare length arithmetic — identical
    semantics in both engines (regex character-class dialects differ;
    `replace` doesn't) and pure map-side codegen: zero shuffles before the
    final single-row rollup."""
    d = load_table(spark, sf_dir, "documents")
    repl = F.expr("chr(65533)")
    bell = F.expr("chr(7)")
    moji = F.expr("chr(195) || chr(169)")
    s = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.expr("repeat(chr(65533), CAST(doc_id % 3 + 1 AS INT))"),
        ).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, bell).otherwise(""),
        F.when(F.col("doc_id") % 13 == 0, moji).otherwise(""),
    )
    counted = d.select(
        (F.length(s) - F.length(F.replace(s, repl, F.lit("")))).alias(
            "n_replacement"
        ),
        (F.length(s) - F.length(F.replace(s, bell, F.lit("")))).alias(
            "n_control"
        ),
        (
            (F.length(s) - F.length(F.replace(s, moji, F.lit("")))) / 2
        ).alias("n_mojibake"),
    )
    any_noise = (
        F.col("n_replacement") + F.col("n_control") + F.col("n_mojibake") > 0
    )
    return counted.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(any_noise, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        F.sum(F.when(F.col("n_replacement") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_replacement"),
        F.sum(F.when(F.col("n_control") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_control"),
        F.sum(F.when(F.col("n_mojibake") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_mojibake"),
        F.sum("n_replacement").cast("bigint").alias("total_replacement_chars"),
        F.round(
            F.sum(F.when(any_noise, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("flagged_share"),
    )


_BPE_ROUNDS = 3


def _bpe_rounds_oracle() -> str:
    """Unrolled 3-round BPE in DuckDB: char-spaced word representation,
    adjacent-pair counts weighted by word freq, lexicographic tie-break,
    double-pass replace (both engines use the same two-pass expression so
    boundary-sharing repeats resolve identically)."""
    parts = [
        """wf0 AS MATERIALIZED (
            SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq,
                   CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE length(w) >= 2
            GROUP BY w
        )"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        prev = f"wf{r - 1}"
        parts.append(f"""pairs{r} AS (
            SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)] AS pair,
                   freq
            FROM (
                SELECT string_split(trim(seq), ' ') AS t, freq FROM {prev}
            )
            CROSS JOIN range(1, 10000) x(i)
            WHERE i < len(t)
        ),
        top{r} AS MATERIALIZED (
            SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
            FROM pairs{r} GROUP BY pair
            ORDER BY n DESC, pair ASC LIMIT 1
        ),
        wf{r} AS MATERIALIZED (
            SELECT replace(replace(seq,
                       ' ' || (SELECT pair FROM top{r}) || ' ',
                       ' ' || replace((SELECT pair FROM top{r}), ' ', '') || ' '),
                       ' ' || (SELECT pair FROM top{r}) || ' ',
                       ' ' || replace((SELECT pair FROM top{r}), ' ', '') || ' ')
                   AS seq,
                   freq
            FROM {prev}
        )""")
    sel = " UNION ALL ".join(
        f"SELECT {r} AS round, replace(pair, ' ', '') AS merged_symbol, n "
        f"FROM top{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
    WITH {','.join(parts)}
    SELECT CAST(round AS BIGINT) AS round, merged_symbol, n
    FROM ({sel}) ORDER BY round
    """


@register("text_bpe_merge_rounds", oracle=_bpe_rounds_oracle())
def text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, rounds 1-3 END-TO-END: count adjacent symbol
    pairs over the word-frequency table, adopt the most frequent pair as a
    merge (ties → lexicographically smallest), re-segment, repeat — the
    actual iterative loop `text_bpe_merge_pairs` computes one step of.
    Words live as char-spaced sequences (" h e l l o "); a merge is a
    delimited string replace with the SAME two-pass expression on both
    engines so boundary-sharing repeats resolve identically.

    Scale shape: every round runs over the |vocab|-row word-frequency
    table (the corpus→vocab reduction happens once, up front); the chosen
    merge is a 1-row broadcast, re-segmentation is map-side replace, and
    `localCheckpoint` per round keeps the unrolled plan linear — the
    k-means/PCA fixed-iteration discipline applied to tokenizer training."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = load_table(spark, sf_dir, "documents")
    wf = (
        fan_out(d.select("text"))
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            F.concat(
                F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")
            ).alias("seq"),
            "freq",
        )
        .localCheckpoint(eager=False)
    )
    picks = []
    for r in range(1, _BPE_ROUNDS + 1):
        t = F.split(F.trim(F.col("seq")), " ")
        # 1-symbol sequences (fully-merged or 1-char words) must emit zero
        # pairs: sequence(1, 0) counts DOWN and element_at(t, 2) on a
        # 1-element array is an ANSI-mode runtime error
        pair_gen = F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        )
        pair_arr = F.when(F.size(t) >= 2, pair_gen).otherwise(
            F.array().cast("array<string>")
        )
        top = (
            wf.select(F.explode(pair_arr).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .localCheckpoint(eager=False)
        )
        picks.append(
            top.select(
                F.lit(r).cast("bigint").alias("round"),
                F.replace(
                    F.col("pair"), F.lit(" "), F.lit("")
                ).alias("merged_symbol"),
                "n",
            )
        )
        pat = F.concat(F.lit(" "), F.col("pair"), F.lit(" "))
        rep = F.concat(
            F.lit(" "),
            F.replace(F.col("pair"), F.lit(" "), F.lit("")),
            F.lit(" "),
        )
        wf = (
            wf.crossJoin(F.broadcast(top.select("pair")))
            .select(
                F.replace(
                    F.replace(F.col("seq"), pat, rep), pat, rep
                ).alias("seq"),
                "freq",
            )
            .localCheckpoint(eager=False)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.transform(sort_result, "round")


def _prf_oracle() -> str:
    from cobalt_duckdb_spark.operators.bm25 import bm25_prf_oracle_sql

    return bm25_prf_oracle_sql(["vector", "query"])


@register("text_bm25_prf_expansion", oracle=_prf_oracle())
def text_bm25_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (Rocchio/RM1 shape): seed query
    ['vector','query'] → top-5 feedback docs → 3 idf-weighted expansion
    terms → expanded retrieval, with the adopted terms surfaced in
    `expanded_with` for auditability. Completes the retrieval family
    (BM25 → hybrid RRF → rerank/MMR → PRF); see
    ``operators.bm25.bm25_prf_topk`` for the two-phase scale shape."""
    from cobalt_duckdb_spark.operators.bm25 import bm25_prf_topk

    return bm25_prf_topk(
        load_table(spark, sf_dir, "documents"), ["vector", "query"]
    )


@register(
    "text_good_turing_unseen",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY w),
    fof AS (
        SELECT f, CAST(COUNT(*) AS BIGINT) AS n_types
        FROM freq GROUP BY f
    ),
    tot AS (
        SELECT SUM(f * n_types) AS n_tokens,
               SUM(n_types) AS n_observed_types,
               SUM(CASE WHEN f = 1 THEN n_types ELSE 0 END) AS f1,
               SUM(CASE WHEN f = 2 THEN n_types ELSE 0 END) AS f2
        FROM fof
    )
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_observed_types AS BIGINT) AS vocab_seen,
           CAST(f1 AS BIGINT) AS hapax_types,
           CAST(f2 AS BIGINT) AS dis_types,
           ROUND(f1 * 1.0 / n_tokens, 6) AS unseen_mass_gt,
           ROUND(CASE WHEN f2 > 0
                      THEN n_observed_types + f1 * f1 / (2.0 * f2) END, 2)
               AS chao1_vocab_estimate
    FROM tot
    """,
)
def text_good_turing_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing unseen-mass estimation over the corpus vocabulary: the
    probability that the NEXT token drawn is a never-seen type is
    estimated by hapax-share f₁/N (Good 1953), and the Chao1 estimator
    (seen + f₁²/2f₂) bounds the true vocabulary size — the
    "is this corpus big enough / how much tail is missing" planning
    numbers read before freezing a tokenizer or sizing a crawl. Pure
    frequency-of-frequencies arithmetic: token count → type frequency →
    f-of-f, three mergeable aggregates, each smaller than the last."""
    from cobalt_duckdb_spark.operators.dedup import fan_out

    d = load_table(spark, sf_dir, "documents")
    freq = (
        fan_out(d.select("text"))
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    fof = freq.groupBy("f").agg(F.count(F.lit(1)).alias("n_types"))
    tot = fof.agg(
        F.sum(F.col("f") * F.col("n_types")).alias("n_tokens"),
        F.sum("n_types").alias("n_observed_types"),
        F.sum(F.when(F.col("f") == 1, F.col("n_types")).otherwise(0)).alias(
            "f1"
        ),
        F.sum(F.when(F.col("f") == 2, F.col("n_types")).otherwise(0)).alias(
            "f2"
        ),
    )
    return tot.select(
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_observed_types").cast("bigint").alias("vocab_seen"),
        F.col("f1").cast("bigint").alias("hapax_types"),
        F.col("f2").cast("bigint").alias("dis_types"),
        F.round(F.col("f1") / F.col("n_tokens"), 6).alias("unseen_mass_gt"),
        F.round(
            F.when(
                F.col("f2") > 0,
                F.col("n_observed_types")
                + F.col("f1") * F.col("f1") / (2.0 * F.col("f2")),
            ),
            2,
        ).alias("chao1_vocab_estimate"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

_RAKE_STOPS = ("the", "a", "an", "of", "to", "and")
_RAKE_MAX_PHRASE = 4
_RAKE_TOPK = 15


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, p, t[p] AS w,
               CASE WHEN t[p] IN {_RAKE_STOPS!r} THEN 1 ELSE 0 END AS is_stop
        FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) + 1)) AS p)
    ),
    seg AS (
        SELECT doc_id, p, w, is_stop,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY p) AS phrase_id
        FROM pos
    ),
    phrases AS (
        SELECT doc_id, phrase_id,
               string_agg(w, ' ' ORDER BY p) AS phrase, COUNT(*) AS plen
        FROM seg WHERE is_stop = 0
        GROUP BY doc_id, phrase_id
        HAVING COUNT(*) BETWEEN 1 AND {_RAKE_MAX_PHRASE}
    ),
    members AS (
        SELECT ph.doc_id, ph.phrase_id, ph.phrase, ph.plen, s.w
        FROM phrases ph JOIN seg s
          ON s.doc_id = ph.doc_id AND s.phrase_id = ph.phrase_id
          AND s.is_stop = 0
    ),
    wstats AS (
        SELECT w, COUNT(*) AS freq, SUM(plen) AS deg FROM members GROUP BY w
    ),
    scored AS (
        SELECT m.phrase,
               CAST(SUM(CAST(ws.deg * 1.0 / ws.freq AS DECIMAL(28, 6)))
                    AS DOUBLE) AS score
        FROM members m JOIN wstats ws ON m.w = ws.w
        GROUP BY m.doc_id, m.phrase_id, m.phrase
    ),
    agg AS (
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               {exact_round_avg_sql('score', 4)} AS rake_score
        FROM scored GROUP BY phrase
    )
    SELECT phrase, n_occurrences, rake_score
    FROM agg ORDER BY rake_score DESC, phrase LIMIT {_RAKE_TOPK}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010): split
    each document into candidate phrases at stopword boundaries, score each
    word by degree/frequency over the phrase graph (degree = summed length
    of phrases containing it — co-occurrence reach; frequency = raw count),
    score a phrase as the sum of its member-word scores, and return the
    corpus's top phrases. The unsupervised multi-word keyword extractor
    that needs no model, embeddings, or idf table — a common first labeling
    pass over raw training corpora; complements `text_tfidf_keywords`
    (single-token, per-doc) and `text_pmi_collocations` (bigram).

    Plan: tokenize with posexplode (map-only row multiplier), phrase ids
    from ONE per-doc running-sum window (the gaps-and-islands shuffle on
    doc_id), phrase assembly in one keyed aggregate whose ordered word
    list is exploded back into the membership rows, and
    the word-score table is vocabulary-bounded so it BROADCASTS back onto
    members — phrase scoring never reshuffles the corpus. Final top-k is
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "w"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("p"),
        "w",
        F.when(F.col("w").isin(*_RAKE_STOPS), 1).otherwise(0).alias("is_stop"),
    )
    seg = pos.withColumn(
        "phrase_id",
        F.sum("is_stop").over(
            Window.partitionBy("doc_id").orderBy("p")
        ),
    )
    members = (
        seg.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "w"))),
                lambda s: s["w"],
            ).alias("ws"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen").between(1, _RAKE_MAX_PHRASE))
        .select(
            "doc_id",
            "phrase_id",
            F.array_join("ws", " ").alias("phrase"),
            "plen",
            F.explode("ws").alias("w"),
        )
    )
    wstats = members.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    # deg/freq are small-int rationals: per-phrase scores (and their means)
    # can sit exactly on rounding half-way points, and rake_score is ALSO
    # the sort key — exact-decimal discipline (functions/exact.py) keeps
    # the ranking order- and engine-independent.
    scored = (
        members.join(F.broadcast(wstats), "w")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(
            F.sum((F.col("deg") / F.col("freq")).cast("decimal(28,6)"))
            .cast("double")
            .alias("score")
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            exact_round_avg(F.col("score"), 4).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOPK)
    )


# ---------------------------------------------------------------------------
# Term burstiness (variance-to-mean ratio)
# ---------------------------------------------------------------------------

_BURST_MIN_DF = 50
_BURST_TOPK = 10


@register(
    "text_term_burstiness",
    oracle=f"""
    WITH n_docs AS (SELECT COUNT(*) * 1.0 AS nd FROM documents),
    cnt AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    per_doc AS (
        SELECT w, doc_id, COUNT(*) * 1.0 AS c FROM cnt GROUP BY w, doc_id
    ),
    word AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
               SUM(c) AS total, SUM(c * c) AS ss
        FROM per_doc GROUP BY w
    )
    SELECT w AS word, df,
           CAST(total AS BIGINT) AS tf,
           ROUND((ss / nd - (total / nd) * (total / nd)) / (total / nd), 4)
               AS vmr
    FROM word, n_docs
    WHERE df >= {_BURST_MIN_DF}
    ORDER BY vmr DESC, word LIMIT {_BURST_TOPK}
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): variance-to-mean ratio of a word's
    per-document count across the WHOLE corpus — Poisson-distributed
    function words sit at VMR ~= 1 while content words 'burst' (appear many
    times in few documents, VMR >> 1). The model-free content/function
    discriminator used for stopword induction and keyword weighting where
    no curated stopword list exists (df-based tf-idf misses this: a word in
    half the docs can still be bursty). Zero-count documents enter the
    moments WITHOUT being materialized: with nd known, mean = total/nd and
    E[x^2] = ss/nd — the absent-row zeros contribute nothing to either sum.

    Plan: tokenize (map-only explode) -> (word, doc) count -> per-word
    moment rollup (vocabulary-sized, all sums mergeable) -> one scalar
    broadcast for nd -> TakeOrderedAndProject. Two keyed shuffles total,
    both on count frames far smaller than the token stream."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    per_doc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    word = per_doc.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    mean = F.col("total") / F.col("nd")
    return (
        word.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") >= _BURST_MIN_DF)
        .select(
            F.col("w").alias("word"),
            "df",
            F.col("total").cast("bigint").alias("tf"),
            F.round(
                (F.col("ss") / F.col("nd") - mean * mean) / mean, 4
            ).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), "word")
        .limit(_BURST_TOPK)
    )


# ---------------------------------------------------------------------------
# TextRank keyword ranking (PageRank over the word co-occurrence graph)
# ---------------------------------------------------------------------------


def _textrank_oracle() -> str:
    from cobalt_duckdb_spark.operators.graph import pagerank_oracle_cte

    edges_cte = f"""
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, p, t[p] AS w
        FROM toks CROSS JOIN LATERAL
            (SELECT unnest(range(1, len(t) + 1)) AS p)
        WHERE t[p] NOT IN {_RAKE_STOPS!r}
    ),
    cooc AS (
        SELECT a.w AS src, b.w AS dst, COUNT(*) * 1.0 AS cnt
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.p - a.p IN (1, 2) AND a.w <> b.w
        GROUP BY a.w, b.w
    ),
    sym AS (
        SELECT src, dst, SUM(cnt) AS cnt FROM (
            SELECT src, dst, cnt FROM cooc
            UNION ALL
            SELECT dst, src, cnt FROM cooc
        ) GROUP BY src, dst
    ),
    edges AS (
        SELECT src, dst, cnt / SUM(cnt) OVER (PARTITION BY src) AS p FROM sym
    )"""
    from cobalt_duckdb_spark.functions.exact import spark_round_sql

    inner = pagerank_oracle_cte(edges_cte, iterations=10, damping=0.85)
    # Rank on the ROUNDED score (the published precision), node as the
    # tiebreak: ordering on the raw double let last-ulp accumulation
    # differences between engines flip positions among words whose
    # published 6-dp scores are IDENTICAL (caught by the first full sf1.0
    # differential, r8 — 10x vocabulary packs the rank spectrum densely
    # enough that equal-rounded neighbors are routine). The rounding itself
    # goes through spark_round_sql, not DuckDB ROUND: the pagerank score is
    # a continuous fold output, and plain ROUND on a raw double still
    # diverges when the shortest decimal repr terminates in 5 at digit 7
    # (Spark rounds the shortest repr, DuckDB the binary value — ADVICE
    # r8; same treatment as every other continuous-double publish).
    r6 = spark_round_sql("rank", 6)
    return f"""
    SELECT CAST(row_number() OVER (ORDER BY {r6} DESC, node)
               AS BIGINT) AS pos,
           node AS word, {r6} AS textrank
    FROM ({inner})
    ORDER BY pos LIMIT 10
    """


@register("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004): PageRank over the word
    co-occurrence graph — words within a +-2 token window are linked,
    stopwords dropped, edge weights = co-occurrence counts (symmetrized),
    and importance is the stationary-style score after 10 pinned power
    steps. The THIRD keyword lens in the pack, and the graph-centrality
    one: tf-idf rewards rarity, RAKE rewards phrase-degree, TextRank
    rewards being structurally central to the corpus's co-occurrence
    topology. Composes two shipped pieces verbatim — the RAKE tokenizer
    stage and `operators/graph.py::pagerank` (same fixed-iteration
    semantics + unrolled-CTE oracle as `graph_pagerank_event_flow`, cited
    there) — which is the point: graph operators in this engine are
    reusable against ANY edge list a query can express.

    Plan: tokenize map-only; the +-2 co-occurrence self-join keys on
    (doc_id) with the positional band as a join predicate; counts collapse
    to a vocabulary^2-bounded edge table that the power iteration then
    runs on (coalesced + checkpointed leaf, AQE single-task exchanges per
    step). Corpus volume only touches the first two stages."""
    from pyspark.sql import Window

    from cobalt_duckdb_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    # +-2 co-occurrence via lead() over the UNFILTERED token sequence (both
    # endpoints must be non-stop) — identical pairs to the oracle's banded
    # self-join, but linear: a doc_id-equi join with the band as a post-join
    # filter enumerates tokens^2 pairs per doc before filtering (measured
    # 21 s at the 10x probe); two lead windows on one doc-key shuffle is
    # the shape that scales.
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "w")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    neigh = pos.select(
        "w",
        F.lead("w", 1).over(wdoc).alias("n1"),
        F.lead("w", 2).over(wdoc).alias("n2"),
    ).filter(~F.col("w").isin(*_RAKE_STOPS))
    pairs = (
        neigh.select("w", F.col("n1").alias("nb"))
        .unionByName(neigh.select("w", F.col("n2").alias("nb")))
        .filter(
            F.col("nb").isNotNull()
            & ~F.col("nb").isin(*_RAKE_STOPS)
            & (F.col("nb") != F.col("w"))
        )
    )
    cooc = (
        pairs.groupBy(F.col("w").alias("src"), F.col("nb").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    sym = (
        cooc.select("src", "dst", "cnt")
        .unionByName(
            cooc.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("cnt").alias("cnt"))
    )
    ranks = pagerank(sym, iterations=10, damping=0.85, weight="cnt")
    # order by the ROUNDED (published) score — raw-double ordering flips
    # equal-rounded neighbors on last-ulp accumulation noise (sf1.0
    # differential catch, r8; oracle twin ordered identically)
    pos_rank = F.row_number().over(
        Window.orderBy(F.desc(F.round("rank", 6)), "node")
    )
    return (
        ranks.select(
            pos_rank.cast("bigint").alias("pos"),
            F.col("node").alias("word"),
            F.round("rank", 6).alias("textrank"),
        )
        .orderBy("pos")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Yule's K lexical richness per source
# ---------------------------------------------------------------------------


@register(
    "text_yule_k_richness",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (
        SELECT d.source, t.w, COUNT(*) AS m
        FROM tok t JOIN documents d USING (doc_id)
        GROUP BY d.source, t.w
    ),
    spectrum AS (
        SELECT source, SUM(m) AS n_tokens, SUM(m * m) AS sum_m2,
               COUNT(*) AS vocab
        FROM freq GROUP BY source
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           ROUND(10000.0 * (sum_m2 - n_tokens) / (n_tokens * n_tokens), 4)
               AS yule_k
    FROM spectrum ORDER BY source
    """,
)
def text_yule_k_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source: 10^4 x (sum m_w^2 - N) / N^2 over
    the source's pooled term-frequency spectrum — the classic
    length-insensitive lexical-richness statistic (higher K = more
    repetitive vocabulary). The per-SOURCE lens the curation mix needs:
    a crawl source whose K drifts up between snapshots is collapsing into
    boilerplate even when its token volume looks healthy. Completes the
    lexical trio: Zipf fit (rank law), burstiness (per-doc dispersion),
    Yule's K (repeat concentration); all three run off the same
    tokenize-count shape.

    Plan: explode -> (source, word) count -> per-source moment rollup;
    exact integer moments, so the only float op is the final division.
    Two keyed shuffles, both on frames far smaller than the token
    stream."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    spectrum = freq.groupBy("source").agg(
        F.sum("m").alias("n_tokens"),
        F.sum(F.col("m") * F.col("m")).alias("sum_m2"),
        F.count(F.lit(1)).alias("vocab"),
    )
    return spectrum.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("vocab").cast("bigint").alias("vocab"),
        F.round(
            10000.0
            * (F.col("sum_m2") - F.col("n_tokens"))
            / (F.col("n_tokens") * F.col("n_tokens")),
            4,
        ).alias("yule_k"),
    ).transform(sort_result, "source")


# ---------------------------------------------------------------------------
# N-gram novelty against a reference split (memorization screen)
# ---------------------------------------------------------------------------


@register(
    "text_ngram_novelty_split",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, list_aggregate(t[p:p+3], 'string_agg', ' ') AS g
        FROM tok CROSS JOIN LATERAL
            (SELECT unnest(range(1, len(t) - 2)) AS p)
    ),
    ref AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
    cand AS (
        SELECT d.source, g.g FROM grams g JOIN documents d USING (doc_id)
        WHERE g.doc_id % 2 = 1
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS novel,
           ROUND(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS novelty_rate
    FROM cand c LEFT JOIN ref r ON c.g = r.g
    GROUP BY c.source ORDER BY c.source
    """,
)
def text_ngram_novelty_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-gram novelty of one corpus split against another (even/odd doc_id
    halves standing in for train-vs-new-crawl): the fraction of a
    candidate source's token 4-grams never seen in the reference split.
    The memorization/freshness screen a training-data pipeline runs on an
    incoming batch — a source whose novelty collapses toward 0 is
    re-serving what the model already saw (the aggregate cousin of
    `dedup_eval_contamination`'s per-document verdicts, and the
    cross-split version of `text_good_turing_unseen`'s within-corpus
    estimate).

    Plan: shingle with posexplode + slice (map-only), reference grams
    deduplicated into a hash-join build side keyed on the gram, novelty
    = null-probe rate per source. One gram-keyed shuffle prices it; the
    hot-gram cap (max_df) documented on the shingle joins applies
    unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    # size guard: Spark's sequence(1, n) flips to a DESCENDING sequence
    # when n < 1 (short doc), where DuckDB's range() is empty — filter
    # sub-4-token docs explicitly so both engines emit zero grams
    tok = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 4)
    grams = tok.select(
        "doc_id",
        "source",
        "t",
        F.posexplode(F.sequence(F.lit(1), F.size("t") - 3)).alias("_i", "p"),
    ).select(
        "doc_id",
        "source",
        F.array_join(F.slice("t", F.col("p"), 4), " ").alias("g"),
    )
    ref = (
        grams.filter(F.col("doc_id") % 2 == 0).select("g").distinct()
        .withColumn("seen", F.lit(1))
    )
    cand = grams.filter(F.col("doc_id") % 2 == 1)
    return (
        cand.join(ref, "g", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("novel"),
            F.round(
                F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("novelty_rate"),
        )
        .transform(sort_result, "source")
    )


# ---------------------------------------------------------------------------
# Theil inequality decomposition of document lengths
# ---------------------------------------------------------------------------


@register(
    "text_theil_length_inequality",
    oracle=f"""
    WITH g AS (
        /* zero-length docs carry zero Theil weight (x·ln x → 0), but
           DuckDB ln(0) THROWS where Spark yields NULL — restrict to
           positive lengths on both engines (degenerate-text fuzz, r6) */
        SELECT source, COUNT(*) * 1.0 AS ng, AVG(n_chars) AS mg,
               SUM(n_chars * ln(n_chars)) AS slx
        FROM documents WHERE n_chars > 0 GROUP BY source
    ),
    tot AS (SELECT SUM(ng) AS n, SUM(ng * mg) / SUM(ng) AS mu FROM g),
    w AS (
        SELECT SUM((g.ng * g.mg) / (t.n * t.mu)
                   * (g.slx / (g.ng * g.mg) - ln(g.mg))) AS t_within
        FROM g, tot t
    ),
    b AS (
        SELECT SUM((g.ng * g.mg) / (t.n * t.mu) * ln(g.mg / t.mu)) AS t_between
        FROM g, tot t
    )
    /* spark_round_sql publishes: a degenerate slice (every source a
       single doc, or all sources equal-length) makes t_within/t_between
       epsilon-negative or exactly -0.0, and DuckDB ROUND keeps the IEEE
       sign where Spark's BigDecimal path normalizes to +0 (caught live
       by the r9 sparse nullworld, seed 9178 — same class as the
       spearman/burstiness fixes). */
    SELECT {spark_round_sql('(SELECT t_within FROM w)', 6)} AS theil_within,
           {spark_round_sql('(SELECT t_between FROM b)', 6)} AS theil_between,
           {spark_round_sql(
               '(SELECT t_within FROM w) + (SELECT t_between FROM b)', 6
           )} AS theil_total,
           {spark_round_sql(
               '''(SELECT t_between FROM b)
                 / ((SELECT t_within FROM w) + (SELECT t_between FROM b))''',
               4,
           )} AS between_share
    """,
)
def text_theil_length_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of document lengths, DECOMPOSED into
    within-source and between-source components — the property Gini
    (`stats_key_skew_profiler`) famously lacks: T_total = T_within +
    T_between exactly, so the index answers "is my token-budget imbalance
    caused by a few outlier docs everywhere, or by whole sources being
    long-form vs short-form?" — which decides whether the mix lever is
    per-doc truncation or per-source reweighting
    (`mix_waterfill_budget`). A ~3% between-share on the synthetic
    corpus = sources are exchangeable in length.

    Plan: ONE per-source moment aggregate (n, mean, sum x·ln x — all
    mergeable) carries the entire decomposition; totals broadcast; the
    corpus is scanned once and per-document terms never materialize."""
    # positive lengths only — see the oracle comment (DuckDB ln(0) throws)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.avg("n_chars").alias("mg"),
        F.sum(F.col("n_chars") * F.log("n_chars")).alias("slx"),
    )
    tot = g.agg(
        F.sum("ng").alias("n"),
        (F.sum(F.col("ng") * F.col("mg")) / F.sum("ng")).alias("mu"),
    )
    gt = g.crossJoin(F.broadcast(tot))
    share = (F.col("ng") * F.col("mg")) / (F.col("n") * F.col("mu"))
    agg = gt.agg(
        F.sum(
            share
            * (F.col("slx") / (F.col("ng") * F.col("mg")) - F.log("mg"))
        ).alias("t_within"),
        F.sum(share * F.log(F.col("mg") / F.col("mu"))).alias("t_between"),
    )
    return agg.select(
        F.round("t_within", 6).alias("theil_within"),
        F.round("t_between", 6).alias("theil_between"),
        F.round(F.col("t_within") + F.col("t_between"), 6).alias(
            "theil_total"
        ),
        # T_total CAN be exactly 0 (all surviving docs the same length —
        # sparse-world fuzz): DuckDB division by zero yields NULL, Spark
        # ANSI raises — guard to the shared NULL contract (no inequality,
        # no between-share)
        F.round(
            F.when(
                F.col("t_within") + F.col("t_between") != 0,
                F.col("t_between") / (F.col("t_within") + F.col("t_between")),
            ),
            4,
        ).alias("between_share"),
    )


# ---------------------------------------------------------------------------
# Heaps' law fit + closed-vocabulary detection
# ---------------------------------------------------------------------------


@register(
    "text_heaps_law_fit",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    firstdoc AS (
        SELECT fd AS doc_id, COUNT(*) AS cnt_new
        FROM (SELECT w, MIN(doc_id) AS fd FROM tok GROUP BY w)
        GROUP BY fd
    ),
    per_doc AS (
        SELECT d.doc_id,
               SUM(d.cnt_tok) OVER (ORDER BY d.doc_id) AS cum_tokens,
               SUM(COALESCE(f.cnt_new, 0)) OVER (ORDER BY d.doc_id)
                   AS cum_vocab
        FROM (SELECT doc_id, COUNT(*) AS cnt_tok FROM tok GROUP BY doc_id) d
        LEFT JOIN firstdoc f ON f.doc_id = d.doc_id
    ),
    pts AS (
        SELECT ln(cum_tokens) AS lx, ln(cum_vocab) AS ly, cum_vocab,
               cum_tokens
        FROM per_doc WHERE doc_id % 25 = 24
    ),
    fit AS (
        SELECT COUNT(*) * 1.0 AS n, SUM(lx) AS sx, SUM(ly) AS sy,
               SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx,
               MAX(cum_vocab) AS v_final, MAX(cum_tokens) AS t_final
        FROM pts
    ),
    halfway AS (
        SELECT MAX(cum_vocab) AS v_half FROM per_doc
        WHERE doc_id <= (SELECT MAX(doc_id) FROM per_doc) / 2
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CASE WHEN ABS((n * sxy - sx * sy) / (n * sxx - sx * sx)) < 5e-5
                THEN 0.0
                ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
           END AS heaps_beta,
           ROUND(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n), 4) AS heaps_k,
           CAST(v_final AS BIGINT) AS vocab_final,
           CAST(t_final AS BIGINT) AS tokens_final,
           ROUND((SELECT v_half FROM halfway) / v_final, 4)
               AS half_corpus_vocab_ratio
    FROM fit
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit V(n) = K·n^beta over the cumulative vocabulary-growth
    curve (log-log OLS at every-25-docs checkpoints), plus the
    closed-vocabulary diagnostic: the fraction of final vocabulary
    already seen at half the corpus. Natural corpora run beta ~0.4-0.6
    and keep discovering types; this synthetic corpus reads beta ~0 with
    half-corpus ratio 1.0 — a CLOSED vocabulary, which is exactly what a
    curation pipeline needs flagged (a crawl source whose growth curve
    flattens has stopped contributing new content, whatever its volume —
    the growth-curve cousin of `text_ngram_novelty_split`). Pairs with
    `text_zipf_law_fit`: Zipf describes the frequency ranks, Heaps the
    type-discovery rate; the two exponents are theoretically linked.

    Plan: one GROUPING SETS aggregate yields the vocab-keyed first
    occurrence (a min — NOT a running distinct) and the per-doc token
    counts, re-keyed by doc; the growth curve is one ordered prefix-sum
    window, the fit one conditional aggregate over 20 checkpoints."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    is_doc = F.col("by_doc") == 1
    d = (
        tok.groupingSets([["w"], ["doc_id"]], "w", "doc_id")
        .agg(
            F.grouping("w").alias("by_doc"),
            F.min("doc_id").alias("first_doc"),
            F.count(F.lit(1)).alias("n"),
        )
        .groupBy(F.when(is_doc, F.col("doc_id")).otherwise(F.col("first_doc")).alias("doc_id"))
        .agg(
            F.sum(F.when(is_doc, F.col("n"))).alias("cnt_tok"),
            F.count(F.when(~is_doc, F.lit(1))).alias("cnt_new"),
        )
    )
    ww = Window.orderBy("doc_id")
    per_doc = d.select(
        "doc_id",
        F.sum("cnt_tok").over(ww).alias("cum_tokens"),
        F.sum("cnt_new").over(ww).alias("cum_vocab"),
        (F.max("doc_id").over(Window.partitionBy()) / 2).alias("half_doc"),
    )
    pt = F.col("doc_id") % 25 == 24
    lx = F.when(pt, F.log("cum_tokens"))
    ly = F.when(pt, F.log("cum_vocab"))
    fit = per_doc.agg(
        F.count(F.when(pt, F.lit(1))).cast("double").alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
        F.max(F.when(pt, F.col("cum_vocab"))).alias("v_final"),
        F.max(F.when(pt, F.col("cum_tokens"))).alias("t_final"),
        F.max(F.when(F.col("doc_id") <= F.col("half_doc"), F.col("cum_vocab")))
        .cast("double")
        .alias("v_half"),
    )
    # the OLS determinant n·sxx − sx² is 0 with fewer than two sample
    # points (a starved corpus leaves ≤1 doc on the %25 sampling grid —
    # sparse-world fuzz): DuckDB division by zero yields NULL, Spark ANSI
    # raises — guard to the shared NULL contract (no fit from one point)
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = F.when(
        det != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det,
    )
    return fit.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.when(F.abs(beta) < 5e-5, F.lit(0.0))
        .otherwise(F.round(beta, 4))
        .alias("heaps_beta"),
        F.round(F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 4).alias(
            "heaps_k"
        ),
        F.col("v_final").cast("bigint").alias("vocab_final"),
        F.col("t_final").cast("bigint").alias("tokens_final"),
        F.round(F.col("v_half") / F.col("v_final"), 4).alias(
            "half_corpus_vocab_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# LLM watermark (greenlist) detection
# ---------------------------------------------------------------------------

_WM_MIN_TOKENS = 20
_WM_FLAG_Z = 4.0


@register(
    "text_watermark_greenlist_detect",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, p, t[p] AS w, t[p - 1] AS prev
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        CROSS JOIN LATERAL (SELECT unnest(range(2, len(t) + 1)) AS p)
    ),
    scored AS (
        SELECT doc_id, COUNT(*) * 1.0 AS n,
               SUM(CASE WHEN ('0x' || substr(md5(prev || '|' || w), 1, 8))
                            ::BIGINT % 2 = 0
                        THEN 1 ELSE 0 END) * 1.0 AS hits
        FROM tok GROUP BY doc_id
    ),
    z AS (
        SELECT d.source, (s.hits - s.n / 2) / sqrt(s.n / 4) AS zval
        FROM scored s JOIN documents d USING (doc_id)
        WHERE s.n >= {_WM_MIN_TOKENS}
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(zval), 4) AS mean_z,
           ROUND(stddev_samp(zval), 4) AS sd_z,
           CAST(SUM(CASE WHEN zval > {_WM_FLAG_Z} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM z GROUP BY source ORDER BY source
    """,
)
def text_watermark_greenlist_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM watermark detection (Kirchenbauer et al. 2023, greenlist
    scheme): a watermarking sampler hashes each previous token to split
    the vocabulary into green/red halves and boosts green tokens; the
    DETECTOR recounts — here green membership is the salted-md5 parity of
    (prev, current), gamma = 1/2 — and scores each document
    z = (hits − n/2)/sqrt(n/4). Unwatermarked text MUST read mean_z ~ 0,
    sd_z ~ 1, nothing over z = 4 (one-in-3e-5 false positives) — which
    is exactly what the synthetic corpus shows, making this the
    calibration run of the synthetic-text screen a training-data pipeline
    increasingly needs (watermarked model output leaking into crawl
    data). Swap the md5 parity for a real scheme's PRF and nothing else
    changes.

    Plan: bigram explode (map-only), per-doc hit counting (one doc-key
    aggregate), per-source z rollup — the detector is two shuffles at any
    corpus size."""
    from pyspark.sql import Window
    from cobalt_duckdb_spark.operators.dedup import fan_out

    docs = load_table(spark, sf_dir, "documents")
    # Bigram stream via posexplode + lag over ONE doc-keyed exchange — the
    # proven shingle_rows shape (r10; guide §2.4/§2.5). The old form
    # carried the FULL token array through the Generate (copied into every
    # exploded row: O(tokens²) bytes per doc) and ran every per-bigram md5
    # map-side on the single-task parquet scan; here the fan_out
    # repartition is the only payload exchange, the window's partitioning
    # satisfies it with no further shuffle, and the md5 detector runs on
    # all cores. Identical (doc, prev, w) multiset: slice-from-2 +
    # element_at(i+1) ≡ lag(w) with the NULL first row dropped.
    toks = fan_out(docs.select("doc_id", "source", "text"), by="doc_id").select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    tok = toks.select(
        "doc_id", "source", "w", F.lag("w").over(wd).alias("prev")
    ).filter(F.col("prev").isNotNull())
    green = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("prev"), F.lit("|"), F.col("w"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0
    )
    # groupBy on doc_id ALONE (source rides along via first(): constant per
    # doc) so the aggregate reuses the window's hash(doc_id) partitioning —
    # no second exchange of the bigram stream (guide §2.4)
    scored = tok.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(green, 1).otherwise(0)).cast("double").alias("hits"),
    )
    z = scored.filter(F.col("n") >= _WM_MIN_TOKENS).select(
        "source",
        (
            (F.col("hits") - F.col("n") / 2) / F.sqrt(F.col("n") / 4)
        ).alias("zval"),
    )
    return (
        z.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("zval"), 4).alias("mean_z"),
            F.round(F.stddev_samp("zval"), 4).alias("sd_z"),
            F.sum(F.when(F.col("zval") > _WM_FLAG_Z, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .transform(sort_result, "source")
    )


# ---------------------------------------------------------------------------
# UMass topic coherence: comparing keyword extractors
# ---------------------------------------------------------------------------


@register(
    "text_umass_keyword_coherence",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    df AS (SELECT w, COUNT(*) * 1.0 AS d FROM tok GROUP BY w),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) * 1.0 AS nd FROM tok),
    percount AS (
        SELECT doc_id, w, COUNT(*) * 1.0 AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w
    ),
    burst AS (
        SELECT w, COUNT(*) AS df_cnt, SUM(c * c) AS ss, SUM(c) AS tot
        FROM percount GROUP BY w
    ),
    set_a AS (
        SELECT 'top_df' AS ks, w, r FROM (
            SELECT w, row_number() OVER (ORDER BY d DESC, w) AS r FROM df
        ) WHERE r <= 10
    ),
    set_b AS (
        SELECT 'top_burstiness' AS ks, w, r FROM (
            SELECT b.w, row_number() OVER (
                ORDER BY (b.ss / n.nd - POW(b.tot / n.nd, 2))
                         / (b.tot / n.nd) DESC, b.w) AS r
            FROM burst b, n_docs n WHERE b.df_cnt >= 50
        ) WHERE r <= 10
    ),
    sel AS (SELECT * FROM set_a UNION ALL SELECT * FROM set_b),
    toksel AS (
        SELECT DISTINCT t.doc_id, t.w FROM tok t
        WHERE t.w IN (SELECT w FROM sel)
    ),
    cod AS (
        SELECT a.w AS wi, b.w AS wj, COUNT(*) * 1.0 AS dij
        FROM toksel a JOIN toksel b ON a.doc_id = b.doc_id AND a.w <> b.w
        GROUP BY a.w, b.w
    ),
    pairs AS (
        SELECT a.ks, a.w AS wi, b.w AS wj
        FROM sel a JOIN sel b ON a.ks = b.ks AND a.r < b.r
    ),
    scored AS (
        SELECT p.ks, COALESCE(c.dij, 0) AS dij, df.d AS dj
        FROM pairs p
        LEFT JOIN cod c ON p.wi = c.wi AND p.wj = c.wj
        JOIN df ON p.wj = df.w
    )
    SELECT ks AS keyword_set, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(SUM(ln((dij + 1) / dj)), 4) AS umass_coherence
    FROM scored GROUP BY ks ORDER BY ks
    """,
)
def text_umass_keyword_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UMass topic coherence as an EXTRACTOR EVALUATION: two keyword sets
    (top-10 by document frequency vs top-10 by burstiness VMR) scored by
    C = sum log((D(wi,wj)+1)/D(wj)) over rank-ordered pairs — the
    standard automatic coherence metric (Mimno et al. 2011) that
    correlates with human topic-quality judgments. This is how you pick
    between keyword/topic extractors WITHOUT labels: a more coherent set
    co-occurs document-wise more than its marginals predict. Composes
    the df and burstiness machinery already shipped and evaluates their
    disagreement.

    Plan: both candidate sets come from vocabulary-sized aggregates; the
    co-occurrence table is built ONLY over the ~20 selected words
    (selection pushed into the token scan via a semi-join), so the pair
    stage touches |docs x 20| rows, not the full posting matrix."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass for the whole query (r10; guide §1.2 — the before-
    # plan held 30 `Scan parquet` nodes / 78 Exchanges because the distinct
    # token set, its df aggregate and the per-doc counts each re-tokenized
    # the corpus per consumer). percount's key set IS the distinct (doc, w)
    # relation, so tok derives from it instead of re-exploding, df_cnt
    # (docs containing w) is exactly burst's per-w row count, and the one
    # checkpointed per-doc count table seeds everything downstream. Counts
    # are exact integers, so every derived value is bit-identical to the
    # multi-pass form (oracle-checked at both SFs).
    percount = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint(eager=False)
    )
    tok = percount.select("doc_id", "w")
    n_docs = tok.agg(
        F.countDistinct("doc_id").cast("double").alias("nd")
    )
    burst = percount.groupBy("w").agg(
        F.count(F.lit(1)).alias("df_cnt"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.sum("c").alias("tot"),
    ).localCheckpoint(eager=False)
    df = burst.select("w", F.col("df_cnt").cast("double").alias("d"))
    set_a = (
        df.select(
            F.lit("top_df").alias("ks"),
            "w",
            F.row_number().over(Window.orderBy(F.desc("d"), "w")).alias("r"),
        )
        .filter(F.col("r") <= 10)
    )
    mean = F.col("tot") / F.col("nd")
    vmr = (F.col("ss") / F.col("nd") - mean * mean) / mean
    set_b = (
        burst.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df_cnt") >= 50)
        .select(
            F.lit("top_burstiness").alias("ks"),
            "w",
            F.row_number().over(Window.orderBy(vmr.desc(), "w")).alias("r"),
        )
        .filter(F.col("r") <= 10)
    )
    # sel (≤20 rows) feeds three consumers (the token semi-join and both
    # sides of the rank-pair self-join); a lazy single-partition checkpoint
    # stops each consumer re-running the two ranking windows
    sel = set_a.unionByName(set_b).coalesce(1).localCheckpoint(eager=False)
    # tok rows are already distinct (percount's group keys), so the
    # broadcast-semi-join output needs no re-distinct
    toksel = tok.join(
        F.broadcast(sel.select("w").distinct()), "w"
    ).localCheckpoint(eager=False)
    a, b = toksel.alias("a"), toksel.alias("b")
    cod = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") != F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("wi"), F.col("b.w").alias("wj"))
        .agg(F.count(F.lit(1)).cast("double").alias("dij"))
    )
    sa, sb = sel.alias("sa"), sel.alias("sb")
    pairs = sa.join(
        sb,
        (F.col("sa.ks") == F.col("sb.ks")) & (F.col("sa.r") < F.col("sb.r")),
    ).select(
        F.col("sa.ks").alias("ks"),
        F.col("sa.w").alias("wi"),
        F.col("sb.w").alias("wj"),
    )
    scored = (
        pairs.join(F.broadcast(cod), ["wi", "wj"], "left")
        .join(
            F.broadcast(df.select(F.col("w").alias("wj"), F.col("d").alias("dj"))),
            "wj",
        )
        .select("ks", F.coalesce("dij", F.lit(0.0)).alias("dij"), "dj")
    )
    return (
        scored.groupBy(F.col("ks").alias("keyword_set"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.log((F.col("dij") + 1) / F.col("dj"))), 4
            ).alias("umass_coherence"),
        )
        .transform(sort_result, "keyword_set")
    )


# ---------------------------------------------------------------------------
# SIF (smooth inverse frequency) information-density profile
# ---------------------------------------------------------------------------

_SIF_A = 0.001


@register(
    "text_sif_information_density",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    p AS (
        SELECT w, COUNT(*) * 1.0 / (SELECT COUNT(*) FROM tok) AS pw
        FROM tok GROUP BY w
    ),
    weighted AS (
        SELECT t.source, {_SIF_A} / ({_SIF_A} + p.pw) AS sw
        FROM tok t JOIN p ON t.w = p.w
    ),
    per_src AS (
        SELECT source, COUNT(*) * 1.0 AS n_tokens, SUM(sw) AS sif_mass
        FROM weighted GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS tn, SUM(sif_mass) AS tm FROM per_src)
    SELECT s.source, CAST(s.n_tokens AS BIGINT) AS n_tokens,
           ROUND(s.n_tokens / t.tn, 4) AS raw_share,
           ROUND(s.sif_mass / t.tm, 4) AS sif_share,
           ROUND((s.sif_mass / t.tm) / (s.n_tokens / t.tn), 4)
               AS information_density
    FROM per_src s, tot t ORDER BY s.source
    """,
)
def text_sif_information_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIF (smooth inverse frequency, Arora et al. 2017) information
    density per source: each token carries weight a/(a + p(w)) — the
    weighting that turns naive averaged word vectors into a strong
    sentence embedding by collapsing stopword/boilerplate mass — and a
    source's density is its share of SIF-weighted mass relative to its
    raw token share. Density < 1 = the source's volume is cheaper than it
    looks (frequent-word heavy); the token-level budget view next to
    `text_theil_length_inequality` (char budget) and
    `mix_waterfill_budget` (doc budget). Also the exact weight table a
    SIF pooling UDF would broadcast, so the profile doubles as the
    pooling precomputation.

    Plan: tokenize once, vocabulary-sized probability table broadcast
    back onto the token stream, per-source mass rollup; totals are
    windows over those small frames, not rescans of the stream."""
    from pyspark.sql import Window

    every = Window.partitionBy()
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    p = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .select("w", (F.col("c") / F.sum("c").over(every)).alias("pw"))
    )
    per_src = (
        tok.join(F.broadcast(p), "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_tokens"),
            F.sum(F.lit(_SIF_A) / (_SIF_A + F.col("pw"))).alias("sif_mass"),
        )
    )
    tn = F.sum("n_tokens").over(every)
    tm = F.sum("sif_mass").over(every)
    return per_src.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("n_tokens") / tn, 4).alias("raw_share"),
        F.round(F.col("sif_mass") / tm, 4).alias("sif_share"),
        F.round((F.col("sif_mass") / tm) / (F.col("n_tokens") / tn), 4).alias(
            "information_density"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Character-entropy compression bound
# ---------------------------------------------------------------------------


@register(
    "text_char_entropy_bound",
    oracle=f"""
    WITH chars AS (
        SELECT source, substr(text, p, 1) AS ch
        FROM documents CROSS JOIN LATERAL
            (SELECT unnest(range(1, length(text) + 1)) AS p)
    ),
    dist AS (
        SELECT source, ch, COUNT(*) * 1.0 AS c,
               SUM(COUNT(*)) OVER (PARTITION BY source) AS tot
        FROM chars GROUP BY source, ch
    )
    /* spark_round_sql publishes: a single-character alphabet makes the
       entropy -SUM(1·log2 1) = IEEE -0.0; DuckDB ROUND keeps the sign,
       Spark's BigDecimal path normalizes to +0 (r9 signed-zero sweep —
       same class the sparse nullworld caught live in markov/theil) */
    SELECT source,
           CAST(MAX(tot) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS alphabet_size,
           {spark_round_sql('-SUM((c / tot) * log2(c / tot))', 4)}
               AS entropy_bits_per_char,
           {spark_round_sql('-SUM((c / tot) * log2(c / tot)) / 8.0', 4)}
               AS min_compress_ratio
    FROM dist GROUP BY source ORDER BY source
    """,
)
def text_char_entropy_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zeroth-order character entropy per source — Shannon's lower bound on
    what ANY character-level compressor can achieve (entropy/8 = the best
    possible bytes-out/bytes-in ratio under an order-0 model), computed
    WITHOUT a codec: the standard gzip-ratio quality heuristic
    (low-entropy text = repetitive/boilerplate; near-8-bits = binary
    junk mislabeled as text) needs zlib in a UDF, but its order-0 bound
    is pure SQL and engine-portable. ~4.17 bits over a 25-symbol
    alphabet here = near-uniform letter soup, the expected synthetic
    reading; real corpora sit near 4.1-4.5 for English prose and DROP
    under boilerplate. Complements `text_mojibake_screen` (encoding
    damage) and `text_repetition_scores` (token-level redundancy) at the
    character level.

    Plan: character explode (map-only row multiplier), per-(source,char)
    count with a source-total window, entropy rollup on the
    |sources x alphabet| frame."""
    docs = load_table(spark, sf_dir, "documents")
    # codepoint-safe character explode: regex SPLIT("(?!^)") positions are
    # UTF-16 CODE-UNIT boundaries and shatter astral-plane characters (an
    # emoji becomes two broken surrogate halves — unicode-world fuzz, r6),
    # but regex MATCHING consumes whole code points — `.` under DOTALL
    # yields exactly DuckDB's substr(text, p, 1) walk. One linear regex
    # pass per doc (the positional explode+substring alternative is O(n²):
    # codepoint indexing rescans the string per position — measured 3.85×
    # on the bench).
    chars = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all("text", F.lit("(?s)."), 0)
        ).alias("ch"),
    )
    from pyspark.sql import Window

    dist = (
        chars.groupBy("source", "ch")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .withColumn("tot", F.sum("c").over(Window.partitionBy("source")))
    )
    p = F.col("c") / F.col("tot")
    ent = -F.sum(p * F.log2(p))
    return (
        dist.groupBy("source")
        .agg(
            F.max("tot").cast("bigint").alias("n_chars"),
            F.count(F.lit(1)).cast("bigint").alias("alphabet_size"),
            F.round(ent, 4).alias("entropy_bits_per_char"),
            F.round(ent / 8.0, 4).alias("min_compress_ratio"),
        )
        .transform(sort_result, "source")
    )


# ---------------------------------------------------------------------------
# Lognormal fit of document lengths
# ---------------------------------------------------------------------------

_LN_ZQ = (
    -1.2815515655446004, -0.8416212335729143, -0.5244005127080409,
    -0.2533471031357997, 0.0, 0.2533471031357997, 0.5244005127080409,
    0.8416212335729143, 1.2815515655446004,
)


def _lognormal_oracle() -> str:
    decile_terms = ", ".join(
        f"ABS(quantile_cont(lx, {q / 10}) - (mu + sigma * {z!r}))"
        for q, z in zip(range(1, 10), _LN_ZQ)
    )
    return f"""
    WITH lx_t AS (
        /* zero/NULL lengths have no logarithm: DuckDB ln(0) THROWS where
           Spark log(0) yields NULL — a lognormal fit is over positive
           lengths on both engines (degenerate-text fuzz, r6) */
        SELECT ln(n_chars * 1.0) AS lx FROM documents WHERE n_chars > 0
    ),
    fit AS (
        SELECT AVG(lx) AS mu, stddev_samp(lx) AS sigma,
               COUNT(*) AS n
        FROM lx_t
    )
    SELECT CAST(f.n AS BIGINT) AS n_docs,
           ROUND(f.mu, 4) AS lognorm_mu,
           ROUND(f.sigma, 4) AS lognorm_sigma,
           ROUND(exp(f.mu), 2) AS fitted_median_chars,
           ROUND(exp(f.mu + f.sigma * f.sigma / 2), 2) AS fitted_mean_chars,
           ROUND((SELECT GREATEST({decile_terms}) FROM lx_t), 4)
               AS max_decile_gap_logspace
    FROM fit f
    """


@register("text_doc_length_lognormal_fit", oracle=_lognormal_oracle())
def text_doc_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit of the document-length distribution (the canonical
    model for text lengths): mu/sigma from log-space moments, the implied
    median exp(mu) and mean exp(mu + sigma^2/2), and the fit-quality
    check — the largest absolute gap between empirical log-space deciles
    and the fitted mu + sigma*z_q line (z constants pinned identically on
    both engines, same discipline as the BH query's erf literals). The
    distributional summary a workload synthesizer or shard planner
    consumes instead of raw histograms; a large decile gap says lengths
    are NOT lognormal and the planner should fall back to
    `dq_equidepth_deciles`' empirical bins.

    Plan: one log-moment aggregate plus one exact-decile aggregate over
    the same projection; the Q-Q comparison is arithmetic on 9 numbers."""
    # positive lengths only — see the oracle comment (DuckDB ln(0) throws)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    lx = docs.select(F.log(F.col("n_chars") * 1.0).alias("lx"))
    fit = lx.agg(
        F.avg("lx").alias("mu"),
        F.stddev_samp("lx").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile(lx, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("qs"),
    )
    gaps = [
        F.abs(F.element_at("qs", i + 1) - (F.col("mu") + F.col("sigma") * z))
        for i, z in enumerate(_LN_ZQ)
    ]
    return fit.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round("mu", 4).alias("lognorm_mu"),
        F.round("sigma", 4).alias("lognorm_sigma"),
        F.round(F.exp("mu"), 2).alias("fitted_median_chars"),
        F.round(
            F.exp(F.col("mu") + F.col("sigma") * F.col("sigma") / 2), 2
        ).alias("fitted_mean_chars"),
        F.round(F.greatest(*gaps), 4).alias("max_decile_gap_logspace"),
    )
