"""The composed corpus-curation pipeline — every stage the repo implements
individually, chained end-to-end the way a training-data job actually runs:

    raw → quality gate → exact dedup → near-dup keep-best →
    eval-decontamination → train/valid/test split

Registered as ONE oracle-checked query returning the per-stage funnel audit
(docs + token totals after each stage) — the number-one artifact a curation
run emits, and the integration test that the stages compose (each stage
consumes the previous stage's survivors, not the raw table).

Stage logic is the library's own: token_count (functions/text.py), md5 exact
fingerprint, bag-collapse keep-best (cf. dedup_keep_best_resolution),
shingle-containment contamination (cf. dedup_eval_contamination,
operators/dedup.shingle_hashes), salted-hash split
(cf. split_train_valid_test_hash). All decisions are integer/hash math —
deterministic across engines, runs, and partitionings.

Scale shape: stages 1-3 are narrow filters + two md5-keyed window shuffles
(uniform keys, no skew). The contamination stage is the heavy one — an
inverted-index join on 32-bit shingle hashes (train docs meet eval docs only
on shared shingles; eval side is benchmark-sized, so the probe ships the
small side). The funnel audit aggregates are one tiny job per stage over
persisted survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions import text as T
from cobalt_duckdb_spark.functions.exact import (
    exact_round_avg,
    exact_round_avg_sql,
    exact_round_ratio,
    exact_round_ratio_sql,
    exact_round_sum,
    exact_round_sum_sql,
    spark_round_sql,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators import dedup as D
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register

_MIN_TOKENS = 30
_EVAL_SOURCE = "src0"

_SHINGLE3 = """list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                   i -> string_split(text,' ')[i] || ' ' ||
                        string_split(text,' ')[i+1] || ' ' ||
                        string_split(text,' ')[i+2]))"""

_PIPELINE_ORACLE = f"""
    WITH raw AS (
        SELECT doc_id, text, source, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tc
        FROM documents
    ),
    q AS (SELECT * FROM raw WHERE tc >= {_MIN_TOKENS}),
    exr AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM q
    ),
    e2 AS (SELECT doc_id, text, source, n_chars, tc FROM exr WHERE rn = 1),
    bag AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY md5(array_to_string(
                list_sort(list_distinct(string_split(text, ' '))), ' '))
            ORDER BY n_chars DESC, doc_id) AS rn2
        FROM e2
    ),
    n2 AS (SELECT doc_id, text, source, tc FROM bag WHERE rn2 = 1),
    shtr AS (
        SELECT doc_id, {_SHINGLE3} AS s FROM n2 WHERE source <> '{_EVAL_SOURCE}'
    ),
    shev AS (
        SELECT doc_id, {_SHINGLE3} AS s FROM raw WHERE source = '{_EVAL_SOURCE}'
    ),
    extr AS (
        SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(s) AS sh FROM shtr WHERE len(s) > 0)
    ),
    exev AS (
        SELECT doc_id, ns, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, len(s) * 1.0 AS ns, unnest(s) AS sh
              FROM shev WHERE len(s) > 0)
    ),
    cont AS (
        SELECT DISTINCT t.doc_id
        FROM (
            SELECT e.doc_id AS eval_id, t.doc_id, ANY_VALUE(e.ns) AS ns,
                   COUNT(*) * 1.0 AS common
            FROM exev e JOIN extr t ON e.h = t.h
            GROUP BY 1, 2
        ) t
        WHERE common / ns >= 0.5
    ),
    d5 AS (
        SELECT * FROM n2
        WHERE source <> '{_EVAL_SOURCE}'
          AND doc_id NOT IN (SELECT doc_id FROM cont)
    ),
    sp AS (
        SELECT tc,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM d5
    )
    SELECT * FROM (
        /* Every branch casts BOTH aggregates to BIGINT — DuckDB SUM(BIGINT)
           returns HUGEINT, whose pandas conversion is float64; see the
           query docstring for the round-3 driver-red root cause. */
        SELECT 0 AS stage_idx, 'raw' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tc) AS BIGINT) AS n_tokens FROM raw
        UNION ALL
        SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(tc) AS BIGINT) FROM q
        UNION ALL
        SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(tc) AS BIGINT) FROM e2
        UNION ALL
        SELECT 3, 'near_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(tc) AS BIGINT) FROM n2
        UNION ALL
        SELECT 4, 'decontaminated', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(tc) AS BIGINT) FROM d5
        UNION ALL
        SELECT 5 + CASE WHEN bucket < 80 THEN 0
                        WHEN bucket < 90 THEN 1 ELSE 2 END,
               CASE WHEN bucket < 80 THEN 'split_train'
                    WHEN bucket < 90 THEN 'split_valid'
                    ELSE 'split_test' END,
               CAST(COUNT(*) AS BIGINT), CAST(SUM(tc) AS BIGINT)
        FROM sp
        GROUP BY 1, 2
    )
    ORDER BY stage_idx
    """


def _stage_audit(df: DataFrame, idx: int, name: str) -> DataFrame:
    return df.agg(
        F.lit(idx).cast("int").alias("stage_idx"),
        F.lit(name).alias("stage"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tc").cast("bigint").alias("n_tokens"),
    )


@register("pipeline_corpus_curation", oracle=_PIPELINE_ORACLE)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel; see module docstring. Returns one row per
    stage: (stage_idx, stage, n_docs, n_tokens).

    Round-3 driver hash-red ROOT CAUSE (fixed): the oracle's union branches
    1-5 left ``SUM(tc)`` uncasted; DuckDB promotes SUM(BIGINT) to HUGEINT,
    the union column became HUGEINT, and DuckDB's pandas conversion turns
    HUGEINT into float64 — so the oracle emitted 27165.0 where Spark emitted
    int64 27165. Deterministic, not flaky: the driver's canonicalization
    preserves the int/float distinction (hash-red every driver run), while
    tools/check_oracle.py's "%.12g" stringifier collapsed it (green every
    judge run). Fix = explicit CAST(... AS BIGINT) in every branch, plus a
    dtype-kind gate in check_oracle so this class can't ship again."""
    from pyspark.sql import Window

    # Funnel frames with >1 consumer are materialized once (guide §1.2,
    # r10): `raw` feeds its own audit, the quality filter AND the eval-side
    # shingle pass (4 documents scans + tokenize passes before), `e2` feeds
    # its audit and the bag-dedup window (the md5 window ran twice). This
    # is the standard staged materialization of a curation pipeline — each
    # stage's survivors are persisted before the next screen reads them.
    raw = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", "text", "source", "n_chars",
            T.token_count("text").alias("tc"),
        )
        .localCheckpoint(eager=False)
    )

    q = raw.filter(F.col("tc") >= _MIN_TOKENS)

    rn = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    e2 = (
        q.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=False)
    )

    bag_fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(T.tokens("text"))))
    )
    rn2 = F.row_number().over(
        Window.partitionBy(bag_fp).orderBy(F.desc("n_chars"), F.asc("doc_id"))
    )
    n2 = (
        e2.withColumn("rn2", rn2)
        .filter(F.col("rn2") == 1)
        .select("doc_id", "text", "source", "tc")
        .localCheckpoint(eager=False)
    )

    train = n2.filter(F.col("source") != _EVAL_SOURCE)
    ev_sh = D.shingle_hashes(
        raw.filter(F.col("source") == _EVAL_SOURCE), "doc_id", "text", 3
    ).select(F.col("doc_id").alias("eval_id"), F.col("ns").alias("eval_ns"), "h")
    tr_sh = D.shingle_hashes(train, "doc_id", "text", 3).select(
        F.col("doc_id").alias("train_id"), "h"
    )
    contaminated = (
        ev_sh.join(tr_sh, "h")
        .groupBy("eval_id", "train_id")
        .agg(
            F.any_value("eval_ns").alias("eval_ns"),
            F.count(F.lit(1)).cast("double").alias("common"),
        )
        .filter(F.col("common") / F.col("eval_ns") >= 0.5)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    d5 = train.join(contaminated, "doc_id", "left_anti").localCheckpoint(eager=False)

    bucket = D.token_hash(F.col("doc_id").cast("string")) % 100
    sp = d5.select(
        "tc",
        F.when(bucket < 80, "split_train")
        .when(bucket < 90, "split_valid")
        .otherwise("split_test")
        .alias("stage"),
        (
            F.lit(5)
            + F.when(bucket < 80, 0).when(bucket < 90, 1).otherwise(2)
        )
        .cast("int")
        .alias("stage_idx"),
    )
    split_audit = sp.groupBy("stage_idx", "stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tc").cast("bigint").alias("n_tokens"),
    )

    return (
        _stage_audit(raw, 0, "raw")
        .unionByName(_stage_audit(q, 1, "quality"))
        .unionByName(_stage_audit(e2, 2, "exact_dedup"))
        .unionByName(_stage_audit(n2, 3, "near_dedup"))
        .unionByName(_stage_audit(d5, 4, "decontaminated"))
        .unionByName(split_audit)
        .transform(sort_result, "stage_idx")
    )


@register(
    "sample_weighted_reservoir",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               -LN((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    + 0.5) / 4294967296.0) / n_chars AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(k, 8) AS sample_key
    FROM keyed
    ORDER BY sample_key, doc_id
    LIMIT 50
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each doc draws key = −ln(u)/w with u ∈ (0,1) and weight w; the k
    smallest keys are a weighted reservoir sample — how a training mix
    over-samples long/high-quality docs without replacement and without a
    sampling state. Here w = n_chars (longer docs proportionally likelier).

    The randomness is DERANDOMIZED: u comes from the doc's md5 id-hash, not
    an RNG — the same doc draws the same u on every engine, run, partition
    layout, and cluster size (``rand(seed)`` guarantees none of those; its
    output depends on partition assignment). That makes a *sampling*
    operator differentially testable and the sample reproducible for
    training-data lineage audits.

    Scale shape: embarrassingly parallel key computation (one md5 + one ln
    per row, no shuffle), then a global top-k = TakeOrderedAndProject —
    per-partition heaps of size k, only k rows ever cross the network. At
    100 TB this is THE way to draw a weighted sample: no per-stratum state,
    no second pass, no skew sensitivity."""
    from cobalt_duckdb_spark.operators.dedup import token_hash

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (token_hash(F.col("doc_id").cast("string")) + 0.5) / F.lit(4294967296.0)
    k = -F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round(k, 8).alias("sample_key"),
        )
        .orderBy("sample_key", "doc_id")
        .limit(50)
    )


@register(
    "sample_per_user_event_cap",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT,
                            event_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_user
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(n_user) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors_kept
    FROM ranked WHERE rn <= 50
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def sample_per_user_event_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key cap (rate-limit) downsampling: keep at most 50 events per
    user, chosen by id-hash order — the anti-whale primitive for training
    data (unbounded per-user contributions let a bot dominate the mix; a
    straight LIMIT has no per-key semantics). Hash order, not time order, so
    the kept subset is an unbiased-ish draw across each user's history and
    reproducible everywhere (same derandomized-u policy as
    ``sample_weighted_reservoir``).

    Scale shape: ONE shuffle on the cap key; the row_number and the per-key
    count share the partition. Hot keys are exactly the rows this op
    removes, and the cap bounds every partition's surviving rows."""
    from pyspark.sql import Window

    from cobalt_duckdb_spark.operators.dedup import token_hash

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ranked = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number()
        .over(w.orderBy(token_hash(F.col("event_id").cast("string")), "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_user"),
    )
    return (
        ranked.filter(F.col("rn") <= 50)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.min("n_user").cast("bigint").alias("n_before"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("n_errors_kept"),
        )
        .transform(sort_result, "user_id")
    )


_CURR_PHASES = 4


@register(
    "curriculum_quality_phases",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               n_chars / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
        FROM documents WHERE n_chars IS NOT NULL
    ),
    phased AS (
        SELECT doc_id, score,
               ntile({_CURR_PHASES}) OVER (ORDER BY score ASC, doc_id ASC)
                   AS phase
        FROM scored
    )
    SELECT CAST(phase AS INT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           ROUND(min(score), 6) AS min_score,
           ROUND(max(score), 6) AS max_score,
           ROUND(avg(score), 6) AS avg_score
    FROM phased GROUP BY phase ORDER BY phase
    """,
)
def curriculum_quality_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: rank every document by a quality
    proxy (mean token length = chars per whitespace token) and cut the
    corpus into ordered phases — easy-to-hard scheduling feeds phase 1
    first. ntile gives exactly-balanced phase sizes, the property curriculum
    schedules want.

    Scale note: ntile over an UNPARTITIONED window is a single-reducer sort
    — fine for the phase *audit* here (output is {_CURR_PHASES} rows), but
    at 100 TB the assignment step would swap in approx-quantile boundaries
    (``approxQuantile`` / ``dq_equidepth_deciles``'s plan) + a broadcast
    range lookup, which keeps the same phase semantics modulo boundary
    rounding without the global sort. The oracle pins the exact-ntile
    semantics at test scale."""
    # an unscoreable doc (NULL n_chars → NULL score) cannot be curriculum-
    # ranked: excluded on both sides, else ntile puts the NULL group in
    # phase 1 on Spark (nulls first) and phase 4 on DuckDB (nulls last)
    # (NULL-world fuzz, r6)
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    from pyspark.sql import Window

    scored = d.select(
        "doc_id",
        (F.col("n_chars") / F.size(F.split("text", " "))).alias("score"),
    )
    w = Window.orderBy(F.asc("score"), F.asc("doc_id"))
    phased = scored.withColumn("phase", F.ntile(_CURR_PHASES).over(w))
    return (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
            F.round(F.avg("score"), 6).alias("avg_score"),
        )
        .select(F.col("phase").cast("int").alias("phase"), "n_docs",
                "min_score", "max_score", "avg_score")
        .orderBy("phase")
    )


@register(
    "profile_corpus_datacard",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, text, n_chars, md5(text) AS fp FROM documents
    ),
    ranked AS (
        SELECT n_chars,
               row_number() OVER (ORDER BY n_chars NULLS LAST) AS rn,
               COUNT(n_chars) OVER () AS n
        FROM base
    ),
    vol AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct
        FROM base
    ),
    lang_rows AS (
        SELECT 'lang' AS section, lang AS metric,
               {ratio_lang} AS value
        FROM base GROUP BY lang
    ),
    pct AS (
        SELECT CAST(MIN(CASE WHEN rn = (n + 1) // 2
                             THEN n_chars END) AS DOUBLE) AS p50,
               CAST(MIN(CASE WHEN rn = (9 * n + 9) // 10
                             THEN n_chars END) AS DOUBLE) AS p90,
               CAST(MIN(CASE WHEN rn = (99 * n + 99) // 100
                             THEN n_chars END) AS DOUBLE) AS p99
        FROM ranked
    ),
    scalar_rows AS (
        SELECT 'volume' AS section, 'n_docs' AS metric,
               CAST(n_docs AS DOUBLE) AS value FROM vol
        UNION ALL
        SELECT 'volume', 'total_chars', CAST(total_chars AS DOUBLE) FROM vol
        UNION ALL
        SELECT 'volume', 'avg_chars', {ratio_avg} FROM vol
        UNION ALL
        SELECT 'dedup', 'exact_dup_rate', {ratio_dup} FROM vol
        UNION ALL
        SELECT 'length', 'p50_chars', p50 FROM pct
        UNION ALL
        SELECT 'length', 'p90_chars', p90 FROM pct
        UNION ALL
        SELECT 'length', 'p99_chars', p99 FROM pct
    )
    SELECT section, metric, value FROM scalar_rows
    UNION ALL
    SELECT section, metric, value FROM lang_rows
    ORDER BY section, metric
    """.replace(
        "{ratio_lang}",
        exact_round_ratio_sql("COUNT(*)", "(SELECT n_docs FROM vol)", 6),
    ).replace(
        "{ratio_avg}", exact_round_ratio_sql("total_chars", "n_docs", 6)
    ).replace(
        "{ratio_dup}",
        exact_round_ratio_sql("(n_docs - n_distinct)", "n_docs", 6),
    ),
)
def profile_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card — the governance artifact a dataset release ships
    with (volume, language mix, exact-dup rate, length percentiles) in one
    long-format (section, metric, value) frame, so downstream tooling reads
    one stable schema however many metrics are added.

    Scale shape: ONE pass builds fingerprints and lengths (map-side), the
    volume/dedup numbers are a single aggregate, language shares one 4-group
    aggregate, and the three length percentiles ride one rank window —
    every piece is a mergeable aggregate, so per-shard cards roll up to the
    corpus card without re-scanning (the same property
    `dq_histogram_totalprice` pins).

    Cross-engine discipline: the length percentiles are DISCRETE order
    statistics (value at rank ceil(q·n)) — the engines' percentile
    interpolation arithmetic diverges on lattice data at non-dyadic
    fractions (the `events_winsorized_stats` redraw-fuzz class) — and
    every published share/mean is an exact integer rational
    (functions/exact.py), never a rounded double division."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("fp")
    )
    # NULLS LAST + non-null count keeps the length percentiles NULL-safe
    # like the aggregates they replaced (ADVICE r5): a NULL n_chars ranks
    # past nn on both engines instead of shifting Spark's ranks (nulls
    # first by default) while DuckDB's stay put.
    ranked = d.select(
        "n_chars",
        "fp",
        F.row_number()
        .over(Window.orderBy(F.asc_nulls_last("n_chars")))
        .alias("rn"),
        F.count("n_chars").over(Window.partitionBy()).alias("nn"),
    )

    def at_rank(cond: str):
        return F.min(F.when(F.expr(cond), F.col("n_chars")))

    vol = ranked.agg(
        F.count(F.lit(1)).alias("n_docs_l"),
        F.sum("n_chars").alias("total_chars_l"),
        F.countDistinct("fp").alias("n_distinct_l"),
        at_rank("rn = (nn + 1) div 2").alias("p50i"),
        at_rank("rn = (9 * nn + 9) div 10").alias("p90i"),
        at_rank("rn = (99 * nn + 99) div 100").alias("p99i"),
    )
    scalars = vol.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("volume").alias("section"),
                    F.lit("n_docs").alias("metric"),
                    F.col("n_docs_l").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("volume").alias("section"),
                    F.lit("total_chars").alias("metric"),
                    F.col("total_chars_l").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("volume").alias("section"),
                    F.lit("avg_chars").alias("metric"),
                    exact_round_ratio(
                        F.col("total_chars_l"), F.col("n_docs_l"), 6
                    ).alias("value"),
                ),
                F.struct(
                    F.lit("dedup").alias("section"),
                    F.lit("exact_dup_rate").alias("metric"),
                    exact_round_ratio(
                        F.col("n_docs_l") - F.col("n_distinct_l"),
                        F.col("n_docs_l"),
                        6,
                    ).alias("value"),
                ),
                F.struct(
                    F.lit("length").alias("section"),
                    F.lit("p50_chars").alias("metric"),
                    F.col("p50i").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("length").alias("section"),
                    F.lit("p90_chars").alias("metric"),
                    F.col("p90i").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("length").alias("section"),
                    F.lit("p99_chars").alias("metric"),
                    F.col("p99i").cast("double").alias("value"),
                ),
            )
        ).alias("row")
    ).select("row.section", "row.metric", "row.value")
    langs = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .crossJoin(F.broadcast(vol.select("n_docs_l")))
        .select(
            F.lit("lang").alias("section"),
            F.col("lang").alias("metric"),
            exact_round_ratio(F.col("n_l"), F.col("n_docs_l"), 6).alias(
                "value"
            ),
        )
    )
    return scalars.unionByName(langs).transform(sort_result, "section", "metric")


@register(
    "sample_epoch_shuffle",
    oracle="""
    WITH keyed AS (
        SELECT e.epoch, d.doc_id,
               md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))
                   AS shuffle_key
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, 3)) AS epoch) e
    )
    SELECT CAST(epoch AS INT) AS epoch,
           CAST(pos AS BIGINT) AS pos,
           doc_id
    FROM (
        SELECT epoch, doc_id,
               row_number() OVER (PARTITION BY epoch ORDER BY shuffle_key, doc_id)
                   AS pos
        FROM keyed
    )
    WHERE pos <= 10
    ORDER BY epoch, pos
    """,
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-epoch shuffle — the dataloader-order primitive for
    multi-epoch training: order epoch e by md5(e:doc_id), giving an
    independent, deterministic permutation per epoch with NO data movement
    (only sort keys are computed; any worker can reconstruct its slice from
    (epoch, doc_id) alone — resumable mid-epoch by position). Emits the
    first 10 positions of 3 epochs as the auditable head.

    Scale shape: the permutation never materializes — consumers sort their
    own shard by the key expression; the cross-epoch explode here is just
    the audit query's bounded output."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"), F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("shuffle_key"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("epoch").orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pos") <= 10)
        .select("epoch", "pos", "doc_id")
        .transform(sort_result, "epoch", "pos")
    )


_DSIR_B = 1024  # hashed-feature buckets
_DSIR_TOPN = 50


@register(
    "sample_dsir_importance",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(w), 1, 8))::BIGINT % {_DSIR_B} AS b
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    tgt AS (
        SELECT b, COUNT(*) * 1.0 AS c FROM tok WHERE source = 'src0'
        GROUP BY b
    ),
    raw AS (
        SELECT b, COUNT(*) * 1.0 AS c FROM tok WHERE source <> 'src0'
        GROUP BY b
    ),
    grid AS (
        SELECT g.b,
               (COALESCE(t.c, 0) + 1)
                   / ((SELECT SUM(c) FROM tgt) + {_DSIR_B}) AS p,
               (COALESCE(r.c, 0) + 1)
                   / ((SELECT SUM(c) FROM raw) + {_DSIR_B}) AS q
        FROM range(0, {_DSIR_B}) g(b)
        LEFT JOIN tgt t ON t.b = g.b
        LEFT JOIN raw r ON r.b = g.b
    ),
    scored AS (
        SELECT tok.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(SUM(ln(grid.p / grid.q)), 6) AS log_w
        FROM tok JOIN grid ON grid.b = tok.b
        WHERE tok.source <> 'src0'
        GROUP BY tok.doc_id
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY log_w DESC, doc_id) AS BIGINT)
               AS rank,
           doc_id, n_tokens, log_w
    FROM scored
    ORDER BY log_w DESC, doc_id
    LIMIT {_DSIR_TOPN}
    """,
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    hashed-unigram importance weights. The target distribution is the
    trusted slice (source 'src0'); every raw doc scores
    log w(x) = Σ_tokens ln(p_target(bucket)/q_raw(bucket)) over {_DSIR_B}
    md5-hashed feature buckets (Laplace-smoothed); the top-{_DSIR_TOPN}
    raw docs by weight are the ones importance resampling would promote
    into the training mix.

    Scale shape: the two bucket histograms are {_DSIR_B}-row aggregates →
    broadcast; scoring is explode → broadcast map join → one doc_id-keyed
    sum; top-k is TakeOrderedAndProject. Nothing quadratic, no UDFs; the
    hash family is the repo-standard md5 slice so the oracle replays it
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    # The hashed-token stream feeds FIVE consumers (target histogram, raw
    # histogram, each histogram's total, the scoring join) — without the
    # checkpoint the tokenize + per-token md5 pass re-ran per consumer
    # (guide §1.2, r10). The histograms themselves are ≤_DSIR_B-row frames
    # consumed twice each (grid join + normalizer): single-partition lazy
    # checkpoints.
    tok = (
        docs.select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
        )
        .select("doc_id", "source", (D.token_hash("w") % _DSIR_B).alias("b"))
        .localCheckpoint(eager=False)
    )
    tgt = (
        tok.filter(F.col("source") == "src0")
        .groupBy("b")
        .agg(F.count("*").cast("double").alias("ct"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    raw = (
        tok.filter(F.col("source") != "src0")
        .groupBy("b")
        .agg(F.count("*").cast("double").alias("cr"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    grid = (
        spark.range(_DSIR_B).select(F.col("id").alias("b"))
        .join(tgt, "b", "left")
        .join(raw, "b", "left")
        .crossJoin(
            F.broadcast(
                tgt.agg(F.sum("ct").alias("nt")).crossJoin(
                    raw.agg(F.sum("cr").alias("nr"))
                )
            )
        )
        .select(
            "b",
            ((F.coalesce("ct", F.lit(0.0)) + 1) / (F.col("nt") + _DSIR_B)).alias("p"),
            ((F.coalesce("cr", F.lit(0.0)) + 1) / (F.col("nr") + _DSIR_B)).alias("q"),
        )
    )
    scored = (
        tok.filter(F.col("source") != "src0")
        .join(F.broadcast(grid), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.sum(F.log(F.col("p") / F.col("q"))), 6).alias("log_w"),
        )
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.orderBy(F.desc("log_w"), F.asc("doc_id"))
    )
    return (
        scored.select(rank.cast("bigint").alias("rank"), "doc_id", "n_tokens", "log_w")
        .orderBy(F.desc("log_w"), "doc_id")
        .limit(_DSIR_TOPN)
    )


@register(
    "mix_waterfill_budget",
    oracle="""
    WITH tok AS (
        SELECT source, SUM(len(string_split(text, ' '))) AS n
        FROM documents GROUP BY source
    ),
    b AS (
        SELECT (SUM(n) * 3) // 10 AS budget, COUNT(*) AS m FROM tok
    ),
    ranked AS (
        SELECT source, n,
               ROW_NUMBER() OVER (ORDER BY n, source) AS rn,
               SUM(n) OVER (ORDER BY n, source
                            ROWS UNBOUNDED PRECEDING) AS pre
        FROM tok
    ),
    kk AS (
        SELECT COALESCE(MAX(r.rn), 0) AS k, COALESCE(MAX(r.pre), 0) AS pre_k
        FROM ranked r, b
        WHERE r.pre + (b.m - r.rn) * r.n <= b.budget
    )
    SELECT r.source,
           CAST(r.n AS BIGINT) AS n_tokens,
           CAST(CASE
                WHEN kk.k = b.m OR r.rn <= kk.k THEN r.n
                ELSE (b.budget - kk.pre_k) // (b.m - kk.k)
                     + CASE WHEN r.rn - kk.k
                                 <= (b.budget - kk.pre_k) % (b.m - kk.k)
                            THEN 1 ELSE 0 END
           END AS BIGINT) AS allocated,
           ROUND(CASE
                WHEN kk.k = b.m OR r.rn <= kk.k THEN r.n
                ELSE (b.budget - kk.pre_k) // (b.m - kk.k)
                     + CASE WHEN r.rn - kk.k
                                 <= (b.budget - kk.pre_k) % (b.m - kk.k)
                            THEN 1 ELSE 0 END
           END * 1.0 / r.n, 6) AS fill_ratio
    FROM ranked r, kk, b
    ORDER BY source
    """,
)
def mix_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation: given a global budget (30% of
    corpus tokens), find the per-source cap c with Σ min(nᵢ, c) = budget —
    small sources keep everything, oversized sources are clipped to the
    common water level. This is the fair-share allocator behind "no single
    crawl may dominate the mix" policies, the closed-form complement of
    ``mix_temperature_sample``'s nᵢ^(1/T) reweighting.

    All arithmetic is integer (floor-division cap, remainder spread to the
    smallest capped sources in (size, name) order), so the allocation is
    exact and cross-engine identical. Scale shape: per-source token counts
    are one mergeable aggregate over the corpus; everything after runs on
    the |sources|-row table — window prefix sums + a prefix-property max
    (whole-table windows over those rows), no per-doc work at all."""
    from pyspark.sql import Window

    every = Window.partitionBy()
    w_ord = Window.orderBy("n", "source")
    ranked = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n"))
        .select(
            "source",
            "n",
            F.row_number().over(w_ord).alias("rn"),
            F.sum("n").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("pre"),
            F.expr("CAST(SUM(n) OVER () * 3 AS BIGINT) div 10").alias("budget"),
            F.count("*").over(every).alias("m"),
        )
    )
    fits = F.col("pre") + (F.col("m") - F.col("rn")) * F.col("n") <= F.col("budget")
    kk = ranked.select(
        "*",
        F.coalesce(F.max(F.when(fits, F.col("rn"))).over(every), F.lit(0)).alias("k"),
        F.coalesce(F.max(F.when(fits, F.col("pre"))).over(every), F.lit(0))
        .cast("bigint")
        .alias("pre_k"),
    )
    full = (F.col("k") == F.col("m")) | (F.col("rn") <= F.col("k"))
    capped = F.expr(
        "(budget - pre_k) div (m - k) + CASE WHEN rn - k <= (budget - pre_k) % (m - k) THEN 1 ELSE 0 END"
    )
    alloc = F.when(full, F.col("n")).otherwise(capped)
    return kk.select(
        "source",
        F.col("n").cast("bigint").alias("n_tokens"),
        alloc.cast("bigint").alias("allocated"),
        F.round(alloc / F.col("n"), 6).alias("fill_ratio"),
    ).orderBy("source")


@register(
    "features_target_encoding",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               SUM(value) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE event_id < 500 GROUP BY event_type
    )
    SELECT e.event_id,
           e.event_type,
           ROUND(e.value, 4) AS value,
           CASE WHEN st.n > 1
                THEN ROUND((st.s - e.value) / (st.n - 1), 6)
           END AS loo_encoding,
           st.n AS category_n
    FROM events e JOIN stats st ON e.event_type = st.event_type
    WHERE e.event_id < 500
    ORDER BY e.event_id
    """,
)
def features_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical (event_type → mean
    value of the OTHER rows in the category) — the leakage-safe form of
    mean encoding: a row never sees its own target, so the feature can be
    trained on directly (Micci-Barreca 2001 shape). Singleton categories
    yield NULL (no other rows to average) rather than a fabricated prior.

    Scale shape: one grouped aggregate (|categories| rows) broadcast-joined
    back to the fact scan — the encode step is map-side, no second shuffle,
    and the same plan serves billions of rows because the only reduced state
    is per-category (sum, count)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    stats = e.groupBy("event_type").agg(
        F.sum("value").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.when(
                F.col("n") > 1,
                F.round((F.col("s") - F.col("value")) / (F.col("n") - 1), 6),
            ).alias("loo_encoding"),
            F.col("n").alias("category_n"),
        )
        .transform(sort_result, "event_id")
    )


@register(
    "features_woe_iv",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS is_pos
        FROM events GROUP BY user_id
    ),
    dominant AS (
        SELECT user_id, event_type AS dom_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY COUNT(*) DESC, event_type ASC
                   ) AS rn
            FROM events WHERE event_type <> 'purchase'
            GROUP BY user_id, event_type
        ) WHERE rn = 1
    ),
    cat AS (
        SELECT d.dom_type,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(p.is_pos) AS BIGINT) AS n_pos,
               CAST(SUM(1 - p.is_pos) AS BIGINT) AS n_neg
        FROM dominant d JOIN per_user p ON p.user_id = d.user_id
        GROUP BY d.dom_type
    ),
    tot AS (
        SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM cat
    ),
    woe AS (
        SELECT c.dom_type, c.n_users, c.n_pos,
               LN(((c.n_pos + 0.5) / (t.tp + 0.5 * t.k))
                  / ((c.n_neg + 0.5) / (t.tn + 0.5 * t.k))) AS w,
               ((c.n_pos + 0.5) / (t.tp + 0.5 * t.k))
               - ((c.n_neg + 0.5) / (t.tn + 0.5 * t.k)) AS dshare
        FROM cat c CROSS JOIN tot t
    )
    SELECT dom_type, n_users, n_pos,
           ROUND(w, 6) AS woe,
           ROUND((SELECT SUM(w2.dshare * w2.w) FROM woe w2), 6)
               AS iv_total
    FROM woe
    ORDER BY dom_type
    """,
)
def features_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence + Information Value of a categorical feature
    (the user's dominant non-purchase event type) against a binary target
    (did the user ever purchase) — the credit-scoring-era feature screen
    that still decides which categoricals earn a slot in a model:
    |WOE| ranks category separation, IV sums it into one keep/drop number
    (rule of thumb: IV < 0.02 useless, > 0.5 suspicious). Laplace 0.5
    smoothing keeps empty cells finite, identically on both engines.

    Scale: one read — the (user, type) counts carry both the target (a max
    over the user window) and the dominant category (argmax row_number over
    the same window, purchase rows sorted last), then all WOE/IV math runs
    as windows over the |categories|-row frame."""
    from pyspark.sql import Window

    is_purchase = F.col("event_type") == "purchase"
    user = Window.partitionBy("user_id")
    dominant = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            F.max(F.when(is_purchase, 1).otherwise(0)).over(user).alias("is_pos"),
            F.row_number()
            .over(user.orderBy(is_purchase, F.col("cnt").desc(), F.col("event_type")))
            .alias("rn"),
        )
        .filter((F.col("rn") == 1) & ~is_purchase)
    )
    cat = dominant.groupBy(F.col("event_type").alias("dom_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("is_pos").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("is_pos")).cast("bigint").alias("n_neg"),
    )
    # windows over the |categories|-row frame: corpus totals and IV
    every = Window.partitionBy()
    tp = F.sum("n_pos").over(every)
    tn = F.sum("n_neg").over(every)
    k = F.count(F.lit(1)).over(every).cast("bigint")
    pshare = (F.col("n_pos") + 0.5) / (tp + 0.5 * k)
    nshare = (F.col("n_neg") + 0.5) / (tn + 0.5 * k)
    woe = cat.select(
        "dom_type",
        "n_users",
        "n_pos",
        F.log(pshare / nshare).alias("w"),
        (pshare - nshare).alias("dshare"),
    )
    return woe.select(
        "dom_type",
        "n_users",
        "n_pos",
        F.round("w", 6).alias("woe"),
        F.round(F.sum(F.col("dshare") * F.col("w")).over(every), 6).alias("iv_total"),
    ).orderBy("dom_type")


def _incremental_admission_oracle() -> str:
    lsh = D.minhash_lsh_incremental_oracle_sql(threshold=0.5)
    return f"""
    WITH rawb AS (
        SELECT doc_id, text, source,
               len(string_split(text, ' ')) AS tc,
               md5(text) AS exact_fp,
               md5(array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' '
               )) AS bag_fp
        FROM documents WHERE source <> 'src0'
    ),
    corpus AS (
        SELECT md5(text) AS exact_fp,
               md5(array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' '
               )) AS bag_fp
        FROM documents WHERE source = 'src0'
    ),
    q AS (SELECT * FROM rawb WHERE tc >= 30),
    s2 AS (
        SELECT * FROM q
        WHERE exact_fp NOT IN (SELECT exact_fp FROM corpus)
    ),
    s3 AS (
        SELECT * FROM s2
        WHERE bag_fp NOT IN (SELECT bag_fp FROM corpus)
    ),
    s4 AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY exact_fp ORDER BY doc_id) AS rn
            FROM s3
        ) WHERE rn = 1
    ),
    lsh_flagged AS (SELECT doc_id FROM ({lsh})),
    s5 AS (
        SELECT * FROM s4
        WHERE doc_id NOT IN (SELECT doc_id FROM lsh_flagged)
    )
    SELECT * FROM (
        SELECT 0 AS stage_idx, 'arrived' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tc) AS BIGINT) AS n_tokens FROM rawb
        UNION ALL SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(tc) AS BIGINT) FROM q
        UNION ALL SELECT 2, 'no_exact_corpus_dup', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(tc) AS BIGINT) FROM s2
        UNION ALL SELECT 3, 'no_bag_corpus_dup', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(tc) AS BIGINT) FROM s3
        UNION ALL SELECT 4, 'batch_deduped', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(tc) AS BIGINT) FROM s4
        UNION ALL SELECT 5, 'admitted', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(tc) AS BIGINT) FROM s5
    ) ORDER BY stage_idx
    """


@register(
    "pipeline_incremental_admission",
    oracle=_incremental_admission_oracle(),
)
def pipeline_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS-INGEST admission funnel — what
    ``pipeline_corpus_curation`` is for a frozen corpus, this is for an
    arriving batch (source ≠ src0) screened against the standing corpus
    (src0): quality gate → exact-fingerprint screen vs the corpus index →
    bag-collapse screen → within-batch dedup → MinHash-LSH near-dup screen
    against the corpus's persisted band table. One row per stage with doc
    and token survival, so per-batch admission rates are monitorable.

    Scale shape: the corpus participates ONLY via its fingerprint columns
    and band table (the persisted dedup index — bytes/doc, re-derived here
    because the testbed is stateless); per-batch cost is the batch, never
    a corpus re-dedup. The LSH screen flags each batch doc independently
    of other batch docs, so screening stage-4 survivors equals
    intersecting the full-batch flag set — the oracle exploits exactly
    that equivalence."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") == "src0")
    exact_fp = F.md5("text")
    bag_fp = F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split("text", " ")))
        )
    )
    corpus_fp = corpus.select(
        exact_fp.alias("c_exact"), bag_fp.alias("c_bag")
    ).localCheckpoint(eager=False)
    # rawb feeds SIX consumers (audits 0-3 re-derive it, plus the s4 chain
    # and its token sums): without a checkpoint every stage audit re-ran
    # the batch tokenize + exact/bag md5 fingerprints from the scan (8
    # documents scans in the r9 before-plan). Materialized once, the
    # funnel's audits are filters/anti-joins over a fingerprint leaf —
    # exactly the per-batch fingerprint table a real ingest pipeline
    # persists before screening (guide §1.2).
    rawb = (
        d.filter(F.col("source") != "src0")
        .select(
            "doc_id",
            "text",
            F.size(F.split("text", " ")).cast("bigint").alias("tc"),
            exact_fp.alias("exact_fp"),
            bag_fp.alias("bag_fp"),
        )
        .localCheckpoint(eager=False)
    )
    q = rawb.filter(F.col("tc") >= 30)
    s2 = q.join(
        F.broadcast(corpus_fp.select("c_exact").distinct()),
        F.col("exact_fp") == F.col("c_exact"),
        "left_anti",
    )
    s3 = s2.join(
        F.broadcast(corpus_fp.select("c_bag").distinct()),
        F.col("bag_fp") == F.col("c_bag"),
        "left_anti",
    )
    rn = F.row_number().over(
        Window.partitionBy("exact_fp").orderBy("doc_id")
    )
    s4 = (
        s3.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    flagged = D.minhash_lsh_incremental(
        corpus, s4.select("doc_id", "text"), threshold=0.5
    ).select("doc_id")
    s5 = s4.join(flagged, "doc_id", "left_anti")

    def audit(df, idx, name):
        return df.agg(
            F.lit(idx).cast("bigint").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tc").cast("bigint").alias("n_tokens"),
        )

    out = audit(rawb, 0, "arrived")
    for df, idx, name in [
        (q, 1, "quality"),
        (s2, 2, "no_exact_corpus_dup"),
        (s3, 3, "no_bag_corpus_dup"),
        (s4, 4, "batch_deduped"),
        (s5, 5, "admitted"),
    ]:
        out = out.unionAll(audit(df, idx, name))
    return out.orderBy("stage_idx")


@register(
    "sample_balanced_class_downsample",
    oracle="""
    WITH sized AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings GROUP BY label
    ),
    floor_n AS (SELECT MIN(n) AS m FROM sized),
    ranked AS (
        SELECT vec_id, label,
               row_number() OVER (
                   PARTITION BY label
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rk
        FROM embeddings
    ),
    kept AS (
        SELECT vec_id, label FROM ranked
        WHERE rk <= (SELECT m FROM floor_n)
    )
    SELECT k.label,
           s.n AS n_before,
           CAST(COUNT(*) AS BIGINT) AS n_after,
           CAST(SUM(CAST(k.vec_id AS BIGINT)) AS BIGINT) AS id_checksum
    FROM kept k JOIN sized s ON s.label = k.label
    GROUP BY k.label, s.n
    ORDER BY k.label
    """,
)
def sample_balanced_class_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-count rows, chosen by deterministic id-hash rank — the
    imbalance fix for contrastive/classification training where the
    majority class would otherwise dominate the loss. Differs from
    `split_stratified_sample` (fixed per-stratum RATES) by balancing to
    the minority COUNT; the id-hash order makes the kept set reproducible
    across engines and re-runs, verified by the per-label id checksum.

    One label-keyed count (broadcast floor), one rank window on the same
    key — hash-partition by label; a skewed majority label is exactly
    what gets truncated."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    sized = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    floor_n = sized.agg(F.min("n").alias("m"))
    rk = F.row_number().over(
        Window.partitionBy("label").orderBy(
            F.md5(F.col("vec_id").cast("string")), "vec_id"
        )
    )
    kept = (
        emb.select("vec_id", "label")
        .withColumn("rk", rk)
        .crossJoin(F.broadcast(floor_n))
        .filter(F.col("rk") <= F.col("m"))
    )
    return (
        kept.join(F.broadcast(sized), "label")
        .groupBy("label", F.col("n").alias("n_before"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_after"),
            F.sum(F.col("vec_id").cast("bigint"))
            .cast("bigint")
            .alias("id_checksum"),
        )
        .transform(sort_result, "label")
    )


_PPS_N = 25


@register(
    "sample_pps_systematic",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, n_chars,
               SUM(n_chars) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               SUM(n_chars) OVER () AS total
        FROM documents
    ),
    marked AS (
        SELECT doc_id, n_chars, cum, total,
               CAST(FLOOR(cum * {_PPS_N}.0 / total) AS BIGINT)
               - CAST(FLOOR((cum - n_chars) * {_PPS_N}.0 / total) AS BIGINT)
                   AS n_hits
        FROM sized
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           n_hits,
           ROUND(n_chars * {_PPS_N}.0 / total, 6) AS expected_hits
    FROM marked
    WHERE n_hits > 0
    ORDER BY doc_id
    """,
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: lay every
    document's size on a cumulative line, drop 25 equally spaced
    marks, and a doc is selected once per mark inside its interval —
    inclusion probability EXACTLY proportional to size with zero variance
    in the sample total (the survey-sampling classic; for training data:
    sample shards proportional to token count so epochs cover bytes, not
    file counts). Derandomized at offset 0, so both engines select the
    identical set; `n_hits` > 1 flags docs larger than a stride (they
    anchor multiple marks — the PPS certainty-selection case).

    One cumulative-sum window in doc_id order (the audit form; at 1e9
    docs, compute per-partition offsets from partition-sum prefix scans —
    same two-pass shape as the byte-balanced shard writer)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    sized = d.select(
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
        F.sum("n_chars").over(tot).alias("total"),
    )
    hits = F.floor(F.col("cum") * float(_PPS_N) / F.col("total")) - F.floor(
        (F.col("cum") - F.col("n_chars")) * float(_PPS_N) / F.col("total")
    )
    return (
        sized.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            hits.cast("bigint").alias("n_hits"),
            F.round(
                F.col("n_chars") * float(_PPS_N) / F.col("total"), 6
            ).alias("expected_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Neyman (optimal) stratified-sample allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000.0


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH strata AS (
        SELECT o_orderpriority AS stratum, COUNT(*) * 1.0 AS nh,
               AVG(o_totalprice) AS mh, stddev_samp(o_totalprice) AS sh
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT SUM(nh) AS n_pop, SUM(nh * sh) AS sum_ns FROM strata
    ),
    alloc AS (
        SELECT s.stratum, s.nh, s.mh, s.sh,
               {_NEYMAN_BUDGET} * s.nh * s.sh / t.sum_ns AS n_neyman,
               {_NEYMAN_BUDGET} * s.nh / t.n_pop AS n_prop,
               s.nh / t.n_pop AS wh
        FROM strata s, tot t
    ),
    vv AS (
        SELECT SUM(wh * wh * sh * sh / n_neyman) AS v_ney,
               SUM(wh * wh * sh * sh / n_prop) AS v_prop
        FROM alloc
    )
    SELECT a.stratum,
           CAST(a.nh AS BIGINT) AS n_pop,
           ROUND(a.mh, 2) AS mean_price,
           ROUND(a.sh, 2) AS sd_price,
           ROUND(a.n_neyman, 2) AS n_neyman,
           ROUND(a.n_prop, 2) AS n_proportional,
           ROUND(v.v_prop / v.v_ney, 6) AS design_effect_vs_prop
    FROM alloc a, vv v
    ORDER BY a.stratum
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: given a total budget
    of 1000 sampled rows, allocate n_h proportional to N_h x S_h (stratum
    size x stratum std-dev) — the allocation that minimizes the stratified
    mean's variance — next to the naive proportional allocation, with the
    realized design effect Var_prop/Var_neyman. This is the PLANNING query a
    sampling pipeline runs before drawing (the draw itself is
    `sample_pps_systematic` / `sample_weighted_reservoir`): strata that are
    large AND internally volatile earn more budget. Near-homogeneous strata
    give a design effect of ~1 — also worth knowing before paying for
    optimal allocation machinery. Allocations stay REAL-valued (2 dp):
    integerization is presentation, and flooring a last-ulp-differing value
    would be a cross-engine hash hazard.

    Plan: one keyed moment aggregate over orders, then pure arithmetic on
    the |strata|-row frame, its totals as whole-frame windows; the whole
    decision costs one scan."""
    from pyspark.sql import Window

    every = Window.partitionBy()
    strata = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("nh"),
            F.avg("o_totalprice").alias("mh"),
            F.stddev_samp("o_totalprice").alias("sh"),
        )
    )
    n_pop = F.sum("nh").over(every)
    sum_ns = F.sum(F.col("nh") * F.col("sh")).over(every)
    alloc = strata.select(
        "stratum",
        "nh",
        "mh",
        "sh",
        (F.lit(_NEYMAN_BUDGET) * F.col("nh") * F.col("sh") / sum_ns).alias(
            "n_neyman"
        ),
        (F.lit(_NEYMAN_BUDGET) * F.col("nh") / n_pop).alias("n_prop"),
        (F.col("nh") / n_pop).alias("wh"),
    )
    w2s2 = F.col("wh") * F.col("wh") * F.col("sh") * F.col("sh")
    return (
        alloc.select(
            "*",
            F.sum(w2s2 / F.col("n_neyman")).over(every).alias("v_ney"),
            F.sum(w2s2 / F.col("n_prop")).over(every).alias("v_prop"),
        )
        .select(
            "stratum",
            F.col("nh").cast("bigint").alias("n_pop"),
            F.round("mh", 2).alias("mean_price"),
            F.round("sh", 2).alias("sd_price"),
            F.round("n_neyman", 2).alias("n_neyman"),
            F.round("n_prop", 2).alias("n_proportional"),
            F.round(F.col("v_prop") / F.col("v_ney"), 6).alias(
                "design_effect_vs_prop"
            ),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# Inter-annotator agreement (Cohen's kappa) between quality rules
# ---------------------------------------------------------------------------


# Chance-agreement numerator as EXACT int64: E = r1*c1 + r0*c0 (products of
# the confusion-matrix marginals). All kappa outputs are rationals over n or
# n^2; the exact integer half-away-from-zero form keeps both engines
# identical even when a group size makes the true value an exact 4-dp
# half-way point (n' = 2^a*5^b denominators — see functions/exact.py).
# Magnitude contract: n^2 * 10^4 < 2^53 holds through n ~ 3e7 documents;
# beyond that this moves to the DECIMAL formulation like exact_round_sum.
_KAPPA_E = (
    "(CAST(n11 + n10 AS BIGINT) * CAST(n11 + n01 AS BIGINT)"
    " + CAST(n00 + n01 AS BIGINT) * CAST(n00 + n10 AS BIGINT))"
)


@register(
    "pipeline_label_agreement_kappa",
    oracle="""
    WITH labels AS (
        SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
               CASE WHEN len(string_split(text, ' ')) >= 40
                    THEN 1 ELSE 0 END AS b
        FROM documents
    ),
    cm AS (
        SELECT COUNT(*) * 1.0 AS n,
               SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) * 1.0 AS n11,
               SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) * 1.0 AS n10,
               SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) * 1.0 AS n01,
               SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) * 1.0 AS n00
        FROM labels
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           {po} AS observed_agreement,
           {pe} AS expected_agreement,
           CASE WHEN CAST(n * n AS BIGINT) <> {e_sum}
                THEN {kappa} ELSE NULL END AS cohens_kappa
    FROM cm
    """.replace(
        "{po}", exact_round_ratio_sql("n11 + n00", "n", 4)
    ).replace(
        "{pe}",
        exact_round_ratio_sql(_KAPPA_E, "CAST(n AS BIGINT) * CAST(n AS BIGINT)", 4),
    ).replace(
        "{kappa}",
        exact_round_ratio_sql(
            f"CAST(n AS BIGINT) * CAST(n11 + n00 AS BIGINT) - {_KAPPA_E}",
            f"CAST(n AS BIGINT) * CAST(n AS BIGINT) - {_KAPPA_E}",
            4,
        ),
    ).replace("{e_sum}", _KAPPA_E),
)
def pipeline_label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent quality labelers (here: a
    char-length rule and a token-count rule standing in for two
    annotators / two classifier versions / rule-vs-model): observed
    agreement corrected for the agreement two labelers would reach by
    CHANCE given their marginals. The inter-annotator-reliability gate
    every labeling pipeline needs before trusting its labels — raw
    agreement of 96% can still be kappa ~0 when one class dominates.
    Swapping a rule for a model's predictions changes the two CASE
    expressions and nothing else.

    Plan: one scan building both labels map-side, one 4-cell confusion
    aggregate, closed-form kappa on a 1-row frame."""
    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("a"),
        F.when(F.size(F.split("text", " ")) >= 40, 1).otherwise(0).alias("b"),
    )
    cm = labels.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("double")
        .alias("n11"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("double")
        .alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("double")
        .alias("n01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("double")
        .alias("n00"),
    )
    lng = lambda c: c.cast("long")
    n = lng(F.col("n"))
    e_sum = lng(F.col("n11") + F.col("n10")) * lng(
        F.col("n11") + F.col("n01")
    ) + lng(F.col("n00") + F.col("n01")) * lng(F.col("n00") + F.col("n10"))
    agree = lng(F.col("n11") + F.col("n00"))
    return cm.select(
        n.alias("n_docs"),
        exact_round_ratio(agree, n, 4).alias("observed_agreement"),
        exact_round_ratio(e_sum, n * n, 4).alias("expected_agreement"),
        F.when(
            n * n != e_sum,
            exact_round_ratio(n * agree - e_sum, n * n - e_sum, 4),
        ).alias("cohens_kappa"),
    )


# ---------------------------------------------------------------------------
# Horvitz-Thompson estimation from the PPS sample
# ---------------------------------------------------------------------------

_HT_EXPECTED_N = 200.0


@register(
    "sample_horvitz_thompson_total",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, n_chars * 1.0 AS x,
               len(string_split(text, ' ')) * 1.0 AS y
        FROM documents
    ),
    tot AS (SELECT SUM(x) AS xx, SUM(y) AS true_total FROM base),
    sampled AS (
        SELECT b.doc_id, b.x, b.y, {_HT_EXPECTED_N} * b.x / t.xx AS pi
        FROM base b, tot t
        WHERE ('0x' || substr(md5('ht:' || CAST(b.doc_id AS VARCHAR)), 1, 8))
              ::BIGINT / 4294967296.0 < {_HT_EXPECTED_N} * b.x / t.xx
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
           {exact_round_sum_sql("y / pi", 2)} AS ht_estimate_tokens,
           ROUND((SELECT true_total FROM tot), 2) AS true_total_tokens,
           ROUND(ABS(CAST(SUM(CAST((y / pi) AS DECIMAL(28, 6))) AS DOUBLE)
                     - (SELECT true_total FROM tot))
                 / (SELECT true_total FROM tot), 4) AS rel_error
    FROM sampled
    """,
)
def sample_horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation — the inferential HALF of unequal-
    probability sampling: Poisson-PPS-sample documents with inclusion
    probability pi_i proportional to size (n_chars, the cheap proxy),
    then estimate the corpus's TOTAL token count as sum(y_i / pi_i). The
    1/pi weighting is what makes biased samples give unbiased totals —
    the principle behind every "estimate corpus statistics from a 0.1%
    sample" job at 100 TB, where y (tokenization) is expensive and only
    computed on sampled rows. The draw is salted-md5 derandomized (same
    discipline as the bootstrap/permutation family); true total and
    realized relative error are emitted alongside as the self-audit —
    possible at test scale, exactly what you CAN'T compute at 100 TB
    (which is the point of the estimator).

    Plan: one moment pass for the size total (broadcast scalar), one
    filtered map-side draw, one weighted-sum aggregate. The expensive
    y-column work happens only on sampled rows in a real deployment."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("x"),
        F.size(F.split("text", " ")).cast("double").alias("y"),
    )
    tot = base.agg(
        F.sum("x").alias("xx"), F.sum("y").alias("true_total")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ht:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    pi = F.lit(_HT_EXPECTED_N) * F.col("x") / F.col("xx")
    sampled = (
        base.crossJoin(F.broadcast(tot))
        .filter(u < pi)
        .select("y", pi.alias("pi"), "true_total")
    )
    # 1/pi weights are order-sensitive in double; sum them exactly so the
    # estimate (and the rel_error built from it) is partitioning- and
    # engine-independent (functions/exact.py discipline).
    exact_s = (
        F.sum((F.col("y") / F.col("pi")).cast("decimal(28,6)")).cast("double")
    )
    return sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        exact_round_sum(F.col("y") / F.col("pi"), 2).alias("ht_estimate_tokens"),
        F.round(F.first("true_total"), 2).alias("true_total_tokens"),
        F.round(
            F.abs(exact_s - F.first("true_total")) / F.first("true_total"),
            4,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# Raking / post-stratification weight calibration
# ---------------------------------------------------------------------------

_RAKE_SAMPLE_P = 0.2


@register(
    "sample_raking_calibration",
    oracle=f"""
    WITH samp AS (
        SELECT lang, source, 1.0 AS w0
        FROM documents
        WHERE ('0x' || substr(md5('rake:' || CAST(doc_id AS VARCHAR)), 1, 8))
              ::BIGINT / 4294967296.0 < {_RAKE_SAMPLE_P}
    ),
    t_lang AS (SELECT lang, COUNT(*) * 1.0 AS t FROM documents GROUP BY lang),
    t_src AS (
        SELECT source, COUNT(*) * 1.0 AS t FROM documents GROUP BY source
    ),
    r1 AS (
        SELECT s.lang, s.source,
               s.w0 * tl.t / SUM(s.w0) OVER (PARTITION BY s.lang) AS w1
        FROM samp s JOIN t_lang tl USING (lang)
    ),
    r2 AS (
        SELECT lang, source,
               w1 * ts.t / SUM(w1) OVER (PARTITION BY source) AS w2
        FROM r1 JOIN t_src ts USING (source)
    ),
    chk AS (
        SELECT r.lang,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               SUM(r.w2) AS raked_total,
               MAX(tl.t) AS target_total
        FROM r2 r JOIN t_lang tl USING (lang)
        GROUP BY r.lang
    )
    SELECT lang, n_sampled,
           ROUND(raked_total, 4) AS raked_total,
           ROUND(target_total, 4) AS target_total,
           ROUND(ABS(raked_total - target_total) / target_total, 6)
               AS rel_margin_dev
    FROM chk ORDER BY lang
    """,
)
def sample_raking_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking (iterative proportional fitting) weight calibration: a
    derandomized 20% document sample has its weights adjusted to match
    the FULL corpus's lang margin, then its source margin — one IPF sweep
    — and the output audits how well the first margin survived the second
    adjustment (full convergence = more sweeps of the same two window
    steps). This is how survey statisticians and data-mix engineers make
    a cheap sample speak for the population when strata are only known
    marginally (lang x source cells too sparse to post-stratify
    directly). Completes the design-based family: PPS draw
    (`sample_pps_systematic`), HT estimation
    (`sample_horvitz_thompson_total`), calibration (this).

    Plan: one (lang, source) cell aggregate carries both margins (windows
    over the cell frame) and each cell's sample count; the sample rows are
    re-emitted from their cells (every sampled doc of a cell starts at
    w0 = 1), then two window-normalized weight updates keyed on the margin
    columns and one audit rollup — each IPF sweep is two keyed shuffles
    of the SAMPLE only, never the corpus."""
    from pyspark.sql import Window

    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rake:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    by_lang = Window.partitionBy("lang")
    by_src = Window.partitionBy("source")
    samp = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_cell"),
            F.count(F.when(u < _RAKE_SAMPLE_P, F.lit(1))).cast("int").alias("n_samp"),
        )
        .select(
            "lang",
            "source",
            "n_samp",
            F.sum("n_cell").over(by_lang).alias("t_l"),
            F.sum("n_cell").over(by_src).alias("t_s"),
        )
        .select(
            "lang",
            "source",
            "t_l",
            "t_s",
            F.explode(F.array_repeat(F.lit(1.0), F.col("n_samp"))).alias("w0"),
        )
    )
    r1 = samp.select(
        "lang",
        "source",
        "t_l",
        "t_s",
        (F.col("w0") * F.col("t_l") / F.sum("w0").over(by_lang)).alias("w1"),
    )
    r2 = r1.select(
        "lang",
        "t_l",
        (F.col("w1") * F.col("t_s") / F.sum("w1").over(by_src)).alias("w2"),
    )
    chk = r2.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("w2").alias("raked_total"),
        F.max("t_l").alias("target_total"),
    )
    return chk.select(
        "lang",
        "n_sampled",
        F.round("raked_total", 4).alias("raked_total"),
        F.round("target_total", 4).alias("target_total"),
        F.round(
            F.abs(F.col("raked_total") - F.col("target_total"))
            / F.col("target_total"),
            6,
        ).alias("rel_margin_dev"),
    ).transform(sort_result, "lang")


# ---------------------------------------------------------------------------
# Mix-entropy shift under an admission screen
# ---------------------------------------------------------------------------


@register(
    "pipeline_mix_entropy_shift",
    oracle=f"""
    WITH scr AS (
        SELECT source,
               CASE WHEN n_chars BETWEEN 120 AND 450
                    AND len(string_split(text, ' ')) >= 25
                    THEN 1 ELSE 0 END AS admitted
        FROM documents
    ),
    per_src AS (
        SELECT source, COUNT(*) * 1.0 AS n_before,
               SUM(admitted) * 1.0 AS n_after
        FROM scr GROUP BY source
    ),
    tot AS (SELECT SUM(n_before) AS tb, SUM(n_after) AS ta FROM per_src),
    shares AS (
        SELECT p.source, p.n_before, p.n_after,
               p.n_before / t.tb AS sb, p.n_after / t.ta AS sa
        FROM per_src p, tot t
    ),
    ent AS (
        SELECT -SUM(sb * ln(sb)) AS h_before,
               -SUM(CASE WHEN sa > 0 THEN sa * ln(sa) ELSE 0 END) AS h_after
        FROM shares
    )
    SELECT s.source,
           CAST(s.n_before AS BIGINT) AS n_before,
           CAST(s.n_after AS BIGINT) AS n_after,
           ROUND(s.sb, 4) AS share_before, ROUND(s.sa, 4) AS share_after,
           ROUND(s.n_after / s.n_before, 4) AS admission_rate,
           {spark_round_sql('(SELECT h_before FROM ent)', 4)}
               AS mix_entropy_before,
           {spark_round_sql('(SELECT h_after FROM ent)', 4)}
               AS mix_entropy_after
    FROM shares s ORDER BY s.source
    """,
)
def pipeline_mix_entropy_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation observability: how an admission screen (here a
    length/token-count gate — the cheap first filter of the
    `pipeline_corpus_curation` chain) reshapes the SOURCE MIX — per-source
    admission rates, before/after shares, and the Shannon entropy of the
    mix on both sides. A filter that looks neutral can quietly collapse
    mix entropy by disproportionately admitting one source — the
    diversity regression `mix_temperature_sample` and
    `mix_waterfill_budget` then can't undo, which is why this audit runs
    BETWEEN screening and mixing. Near-equal entropies here = the gate is
    mix-neutral on synthetic data (the A/A reading).

    Plan: one scan computing the admission flag map-side, one per-source
    rollup, totals and entropy as windows over the |sources|-row share
    frame; the audit costs one pass regardless of filter complexity."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    admitted = (
        F.when(
            F.col("n_chars").between(120, 450)
            & (F.size(F.split("text", " ")) >= 25),
            1,
        )
        .otherwise(0)
    )
    per_src = (
        docs.select("source", admitted.alias("admitted"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_before"),
            F.sum("admitted").cast("double").alias("n_after"),
        )
    )
    every = Window.partitionBy()
    shares = per_src.withColumns(
        {"tb": F.sum("n_before").over(every), "ta": F.sum("n_after").over(every)}
    ).select(
        "source",
        "n_before",
        "n_after",
        (F.col("n_before") / F.col("tb")).alias("sb"),
        # ta CAN be zero — a screen that admits nothing (unicode-world fuzz
        # at 100% dose starved the token gate). DuckDB division by zero
        # yields NULL; Spark's ANSI mode RAISES — guard to the shared NULL
        # contract (no admitted corpus → after-shares undefined).
        F.when(F.col("ta") > 0, F.col("n_after") / F.col("ta")).alias("sa"),
    )
    return (
        shares.withColumns(
            {
                "h_before": -F.sum(F.col("sb") * F.log("sb")).over(every),
                "h_after": -F.sum(
                    F.when(F.col("sa") > 0, F.col("sa") * F.log("sa")).otherwise(0.0)
                ).over(every),
            }
        )
        .select(
            "source",
            F.col("n_before").cast("bigint").alias("n_before"),
            F.col("n_after").cast("bigint").alias("n_after"),
            F.round("sb", 4).alias("share_before"),
            F.round("sa", 4).alias("share_after"),
            F.round(F.col("n_after") / F.col("n_before"), 4).alias(
                "admission_rate"
            ),
            F.round("h_before", 4).alias("mix_entropy_before"),
            F.round("h_after", 4).alias("mix_entropy_after"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sampling-method bake-off
# ---------------------------------------------------------------------------


@register(
    "sample_method_bakeoff",
    oracle="""
    WITH base AS (
        SELECT doc_id, source, len(string_split(text, ' ')) * 1.0 AS y,
               ('0x' || substr(md5('bake:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT / 4294967296.0 AS u,
               row_number() OVER (ORDER BY doc_id) AS rn,
               row_number() OVER (PARTITION BY source ORDER BY
                   md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS srn,
               COUNT(*) OVER (PARTITION BY source) AS sn
        FROM documents
    ),
    truth AS (SELECT AVG(y) AS mu FROM base),
    est AS (
        SELECT 'bernoulli_10pct' AS method, AVG(y) AS est, COUNT(*) AS n
        FROM base WHERE u < 0.1
        UNION ALL
        SELECT 'systematic_every_10th', AVG(y), COUNT(*)
        FROM base WHERE rn % 10 = 1
        UNION ALL
        SELECT 'stratified_by_source_10pct', AVG(y), COUNT(*)
        FROM base WHERE srn <= CAST(CEIL(sn * 0.1) AS BIGINT)
    )
    SELECT e.method, CAST(e.n AS BIGINT) AS n_sampled,
           ROUND(e.est, 4) AS estimate,
           ROUND(t.mu, 4) AS true_mean,
           ROUND(ABS(e.est - t.mu) / t.mu, 6) AS rel_error
    FROM est e, truth t ORDER BY e.method
    """,
)
def sample_method_bakeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-method bake-off on one target statistic (mean tokens/doc):
    derandomized Bernoulli 10%, systematic every-10th (implicit
    stratification over the id order — typically the lowest-variance
    cheap option, as its winning rel_error here shows), and
    hash-shuffled proportional stratification by source, each scored
    against the full-data truth. The side-by-side a pipeline runs ONCE
    per corpus before standardizing its profiling sample design —
    complements the single-method family (`sample_pps_systematic` draws,
    `sample_horvitz_thompson_total` corrects, `sample_raking_calibration`
    post-adjusts) with the selection step.

    Plan: one scan computes every method's membership flag (two rank
    windows + one hash), one aggregate of three conditional estimates with
    the truth alongside, stacked into one row per method — the bake-off
    costs one pass, not one pass per method."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bake:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    base = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("double").alias("y"),
        u.alias("u"),
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
                "doc_id",
            )
        )
        .alias("srn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("sn"),
    )
    methods = (
        ("bernoulli_10pct", F.col("u") < 0.1),
        ("systematic_every_10th", F.col("rn") % 10 == 1),
        (
            "stratified_by_source_10pct",
            F.col("srn") <= F.ceil(F.col("sn") * 0.1).cast("bigint"),
        ),
    )
    stack = ", ".join(f"'{name}', est{i}, n{i}" for i, (name, _) in enumerate(methods))
    ests = base.agg(
        F.avg("y").alias("mu"),
        *[
            c
            for i, (_, cond) in enumerate(methods)
            for c in (
                F.avg(F.when(cond, F.col("y"))).alias(f"est{i}"),
                F.count(F.when(cond, F.lit(1))).cast("bigint").alias(f"n{i}"),
            )
        ],
    ).select("mu", F.expr(f"stack({len(methods)}, {stack}) AS (method, est, n)"))
    return (
        ests.select(
            "method",
            F.col("n").alias("n_sampled"),
            F.round("est", 4).alias("estimate"),
            F.round("mu", 4).alias("true_mean"),
            F.round(F.abs(F.col("est") - F.col("mu")) / F.col("mu"), 6).alias(
                "rel_error"
            ),
        )
        .orderBy("method")
    )
