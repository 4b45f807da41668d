"""Data-selection & curation-audit pack (round 4) — the operators a
training-data team runs between "corpus is deduped" and "mixture is
frozen": coreset selection, domain reweighting, token-budget allocation,
document fingerprinting for provenance, and embedding-space OOD screens.

All [EXT] — absent from the reference (its surface is one KNN query); these
extend the mandated LLM-pipeline family (BASELINE.json north star) with the
selection/mixing stages. Every query carries a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.exact import (
    exact_round_avg,
    exact_round_avg_sql,
    exact_round_sum,
    exact_round_sum_sql,
    spark_round_sql,
)
from cobalt_duckdb_spark.functions.matrix import (
    dense,
    iterate,
    let,
    per_label,
    total,
    transpose,
    vecmat,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators.graph import transition_counts
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register

# ---------------------------------------------------------------------------
# k-center greedy coreset over embeddings
# ---------------------------------------------------------------------------

_KC_K = 6  # selected coreset size (5 greedy rounds after the seed)


def _kcenter_oracle(k: int = _KC_K) -> str:
    """Unrolled greedy k-center CTE chain: sel_i = sel_{i-1} ∪ argmax over
    points of min-distance-to-sel (cosine distance; ties → lowest vec_id)."""
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "sel0 AS MATERIALIZED (SELECT 0 AS sel_rank, vec_id, v, 0.0 AS d FROM e WHERE vec_id = 0)",
    ]
    prev = "sel0"
    for i in range(1, k):
        parts.append(
            f"""m{i} AS MATERIALIZED (
                SELECT a.vec_id, a.v,
                       MIN(1 - list_cosine_similarity(a.v, s.v)) AS d
                FROM e a, {prev} s GROUP BY a.vec_id, a.v
            ),
            p{i} AS MATERIALIZED (
                SELECT {i} AS sel_rank, vec_id, v, d FROM m{i}
                ORDER BY d DESC, vec_id ASC LIMIT 1
            ),
            sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM p{i})"""
        )
        prev = f"sel{i}"
    parts.append(
        f"""SELECT CAST(sel_rank AS INT) AS sel_rank, vec_id,
               ROUND(d, 6) AS dist_to_set
        FROM {prev} ORDER BY sel_rank"""
    )
    return ",\n".join(parts[:1] + [",\n".join(parts[1:-1])]) + "\n" + parts[-1]


@register("sample_coreset_kcenter_greedy", oracle=_kcenter_oracle())
def sample_coreset_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal) over the
    embedding table — the standard geometric coreset for data pruning /
    active learning: each round adds the point FARTHEST (cosine distance)
    from the current selected set, giving a 2-approximation of the k-center
    cover. Seed = vec_id 0; ties break to the lowest vec_id so both engines
    replay the identical trajectory.

    Scale shape: each of the k−1 rounds is a MAP-ONLY pass — the selected
    set (≤ k rows) broadcasts into a min-over-centers projection, and the
    argmax is a TakeOrderedAndProject (per-partition top-1, k−1 rows ever
    cross the network). No shuffle of the big side, ever; the loop
    localCheckpoints the (≤ k)-row selected set, not the corpus. At 100 TB
    this is the textbook way to draw a geometric coreset: k linear scans.
    Dist-to-set for the SEED is defined 0.0."""
    from cobalt_duckdb_spark.functions.vector import cosine_distance

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    selected = (
        e.filter(F.col("vec_id") == 0)
        .select(
            F.lit(0).cast("int").alias("sel_rank"),
            "vec_id",
            "v",
            F.lit(0.0).alias("d"),
        )
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    for i in range(1, _KC_K):
        centers = selected.select(
            F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
        )
        far = (
            e.join(F.broadcast(centers))
            .groupBy("vec_id", "v")
            .agg(F.min(cosine_distance(F.col("v"), F.col("cv"))).alias("d"))
            .orderBy(F.col("d").desc(), F.col("vec_id").asc())
            .limit(1)
            .select(F.lit(i).cast("int").alias("sel_rank"), "vec_id", "v", "d")
        )
        selected = (
            selected.unionByName(far).coalesce(1).localCheckpoint(eager=False)
        )
    return selected.select(
        "sel_rank", "vec_id", F.round("d", 6).alias("dist_to_set")
    ).transform(sort_result, "sel_rank")


# ---------------------------------------------------------------------------
# DoReMi-style proxy domain reweighting
# ---------------------------------------------------------------------------

_DOREMI_ETA = 1.0


@register(
    "mix_doremi_proxy_reweight",
    oracle=f"""
    WITH d AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS tc,
               CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS cpt
        FROM documents
    ),
    dom AS (
        SELECT source,
               SUM(tc) AS toks,
               AVG(cpt) AS proxy_loss
        FROM d GROUP BY source
    ),
    tot AS (SELECT SUM(toks) AS all_toks, AVG(proxy_loss) AS mean_loss FROM dom),
    scored AS (
        SELECT source, toks / all_toks AS base_share,
               proxy_loss,
               (toks / all_toks) * EXP({_DOREMI_ETA} * (proxy_loss - mean_loss))
                   AS unnorm
        FROM dom, tot
    )
    SELECT source,
           ROUND(base_share, 6) AS base_share,
           ROUND(proxy_loss, 6) AS proxy_loss,
           ROUND(unnorm / SUM(unnorm) OVER (), 6) AS doremi_share,
           {spark_round_sql("unnorm / SUM(unnorm) OVER () - base_share", 6)}
               AS delta_share
    FROM scored ORDER BY source
    """,
)
def mix_doremi_proxy_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023, public
    arXiv 2305.10429): each domain's sampling weight moves multiplicatively
    with its EXCESS loss vs the mean, then renormalizes —
    w'ᵢ ∝ wᵢ·exp(η·(lossᵢ − mean_loss)). Here the proxy loss is a
    deterministic hardness stand-in (mean chars-per-token of the domain —
    longer tokens ≈ rarer vocabulary) so both engines replay it; in
    production the proxy-model per-domain loss column drops in unchanged.

    Scale shape: one groupBy(source) over the corpus (≤ |domains| rows out),
    a 1-row global aggregate broadcast back, and window math on the
    |domains|-row frame. The softmax-style renormalization never touches
    row-level data."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split("text", " ")).cast("double").alias("tc"),
        (F.col("n_chars").cast("double") / F.size(F.split("text", " "))).alias(
            "cpt"
        ),
    )
    dom = d.groupBy("source").agg(
        F.sum("tc").alias("toks"), F.avg("cpt").alias("proxy_loss")
    )
    tot = dom.agg(
        F.sum("toks").alias("all_toks"), F.avg("proxy_loss").alias("mean_loss")
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    scored = dom.crossJoin(F.broadcast(tot)).select(
        "source",
        (F.col("toks") / F.col("all_toks")).alias("base_share"),
        "proxy_loss",
        (
            (F.col("toks") / F.col("all_toks"))
            * F.exp(F.lit(_DOREMI_ETA) * (F.col("proxy_loss") - F.col("mean_loss")))
        ).alias("unnorm"),
    )
    tot_unnorm = F.sum("unnorm").over(wall)
    return scored.select(
        "source",
        F.round("base_share", 6).alias("base_share"),
        F.round("proxy_loss", 6).alias("proxy_loss"),
        F.round(F.col("unnorm") / tot_unnorm, 6).alias("doremi_share"),
        F.round(F.col("unnorm") / tot_unnorm - F.col("base_share"), 6).alias(
            "delta_share"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# HITS hubs & authorities on the event-transition graph
# ---------------------------------------------------------------------------

_HITS_ITERS = 5


def _hits_oracle(iters: int = _HITS_ITERS) -> str:
    parts = [
        """WITH seq AS (
            SELECT event_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS next_type
            FROM events
        ),
        edges AS MATERIALIZED (
            SELECT event_type AS src, next_type AS dst,
                   CAST(COUNT(*) AS DOUBLE) AS w
            FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        ),
        nodes AS MATERIALIZED (
            SELECT DISTINCT src AS node FROM edges
            UNION SELECT DISTINCT dst FROM edges
        ),
        hub0 AS MATERIALIZED (SELECT node, 1.0 AS h FROM nodes)""",
    ]
    prev_h = "hub0"
    for i in range(1, iters + 1):
        parts.append(
            f"""auth{i}_raw AS MATERIALIZED (
                SELECT e.dst AS node, SUM(e.w * h.h) AS a
                FROM edges e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst
            ),
            auth{i} AS MATERIALIZED (
                SELECT n.node, COALESCE(r.a, 0) /
                       (SELECT SQRT(SUM(a * a)) FROM auth{i}_raw) AS a
                FROM nodes n LEFT JOIN auth{i}_raw r ON n.node = r.node
            ),
            hub{i}_raw AS MATERIALIZED (
                SELECT e.src AS node, SUM(e.w * a.a) AS h
                FROM edges e JOIN auth{i} a ON e.dst = a.node GROUP BY e.src
            ),
            hub{i} AS MATERIALIZED (
                SELECT n.node, COALESCE(r.h, 0) /
                       (SELECT SQRT(SUM(h * h)) FROM hub{i}_raw) AS h
                FROM nodes n LEFT JOIN hub{i}_raw r ON n.node = r.node
            )"""
        )
        prev_h = f"hub{i}"
    parts.append(
        f"""SELECT h.node AS event_type,
               ROUND(h.h, 6) AS hub,
               ROUND(a.a, 6) AS authority
        FROM hub{iters} h JOIN auth{iters} a ON h.node = a.node
        ORDER BY event_type"""
    )
    return ",\n".join(parts[:-1]) + "\n" + parts[-1]


def _unit(x: Column) -> Column:
    """x over its L2 norm, absent entries 0; the norm sums the present
    entries only, as the oracle's ``SUM(a * a)`` over the raw rows."""
    return let(x, lambda x: let(
        F.sqrt(total(F.transform(x, lambda v: v * v))),
        lambda norm: F.transform(x, lambda v: F.coalesce(v, F.lit(0.0)) / norm),
    ))


def _hits(counts: DataFrame) -> DataFrame:
    """``(node, hub, authority)`` after ``_HITS_ITERS`` rounds over the
    weighted transition counts ``(i, j, n)``: a = unit(h·A), then
    h = unit(a·Aᵀ) = unit(A·a), from h₀ = 1 on every node."""
    m = dense(counts.filter(F.col("j").isNotNull()).select(
        "i", "j", F.col("n").cast("double").alias("p")
    ))
    labels, k = F.col("labels"), F.size("labels")
    ones = F.transform(labels, lambda _: F.lit(1.0))
    state = F.struct(ones.alias("a"), ones.alias("h"))
    hits = let(transpose(F.col("cells"), k), lambda at: iterate(
        state, _HITS_ITERS, lambda s: let(
            _unit(vecmat(s["h"], F.col("cells"), k)),
            lambda a: F.struct(a.alias("a"), _unit(vecmat(a, at, k)).alias("h")),
        ),
    ))
    return per_label(
        m.select("labels", hits.alias("s")),
        hub=F.col("s.h"), authority=F.col("s.a"),
    ).withColumnRenamed("label", "node")


@register("graph_hits_hubs_authorities", oracle=_hits_oracle())
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities on the weighted event-transition
    graph (same edge extraction as ``graph_pagerank_event_flow``): fixed
    {_HITS_ITERS} mutual-reinforcement rounds, L2-normalizing each vector
    per round — auth = norm(Aᵀ·hub), hub = norm(A·auth). States that FEED
    conversions score as hubs; states journeys converge INTO score as
    authorities — complementary to PageRank's stationary centrality.

    Scale shape: edge extraction is one user_id-shuffle (lead window) + a
    |types|²-row aggregate; the rounds are an ``aggregate`` over the one-row
    matrix (``functions/matrix.py``) in the same plan, with the transpose
    taken once outside the loop, so building the query starts no job."""
    hits = _hits(transition_counts(load_table(spark, sf_dir, "events")))
    return hits.select(
        F.col("node").alias("event_type"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (MOSS)
# ---------------------------------------------------------------------------

_WIN_N = 3  # token n-gram size
_WIN_W = 4  # winnowing window (consecutive n-gram hashes)


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                               1, 8))::BIGINT AS h
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_WIN_N} + 2)) AS i
              FROM toks WHERE len(t) >= {_WIN_N})
    ),
    winmin AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_W - 1} FOLLOWING) AS fp,
               pos,
               COUNT(*) OVER (PARTITION BY doc_id) AS ng
        FROM grams
    ),
    fps AS MATERIALIZED (
        SELECT DISTINCT doc_id, fp
        FROM winmin WHERE pos <= ng - {_WIN_W} + 1
    ),
    per_doc AS MATERIALIZED (
        SELECT doc_id, COUNT(*) AS n_fingerprints FROM fps GROUP BY doc_id
    ),
    shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(pa.n_fingerprints AS BIGINT) AS a_fingerprints,
           CAST(pb.n_fingerprints AS BIGINT) AS b_fingerprints,
           ROUND(n_shared * 1.0 /
                 (pa.n_fingerprints + pb.n_fingerprints - n_shared), 6)
               AS fp_jaccard
    FROM shared
    JOIN per_doc pa ON pa.doc_id = a_id
    JOIN per_doc pb ON pb.doc_id = b_id
    ORDER BY n_shared DESC, a_id, b_id LIMIT 20
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003, the
    MOSS algorithm): hash every token {_WIN_N}-gram, slide a window of
    {_WIN_W} consecutive hashes, keep each window's MINIMUM — guaranteeing
    any shared run of ≥ w+n−1 tokens shares a fingerprint, with density
    ~2/(w+1) instead of every shingle. The inverted-index join on the
    SELECTED fingerprints then reports the top shared-provenance pairs with
    fingerprint-set Jaccard — near-dup / plagiarism provenance at a
    fraction of full-shingle cost.

    Scale shape: fingerprint selection is ONE doc-partitioned window pass
    (min over {_WIN_W} following rows) — no shuffle beyond the doc
    partitioning; the pair join runs on the winnowed set (~2/(w+1) the
    shingle count), and the global top-20 is TakeOrderedAndProject. The
    window-min beats per-window explodes by never materializing window
    membership."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n = _WIN_N
    grams = (
        d.filter(F.size("t") >= n)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.slice("t", 1, F.size("t") - n + 1),
                    lambda _, i: F.concat_ws(
                        " ",
                        F.col("t")[i],
                        F.col("t")[i + 1],
                        F.col("t")[i + 2],
                    ),
                )
            ).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    winmin = grams.select(
        "doc_id",
        "pos",
        F.min("h").over(wdoc.rowsBetween(0, _WIN_W - 1)).alias("fp"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("ng"),
    )
    # the winnowed fingerprint set feeds THREE consumers (per-doc counts +
    # both sides of the pair join) — materialize once so the gram hashing +
    # window-min pipeline doesn't re-run per consumer (guide §1.2, r10);
    # this is the fingerprint index MOSS persists
    fps = (
        winmin.filter(F.col("pos") <= F.col("ng") - _WIN_W + 1)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    per_doc = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints")
    )
    a = fps.select(F.col("doc_id").alias("a_id"), "fp")
    b = fps.select(F.col("doc_id").alias("b_id"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    pa = per_doc.select(
        F.col("doc_id").alias("a_id"), F.col("n_fingerprints").alias("a_fingerprints")
    )
    pb = per_doc.select(
        F.col("doc_id").alias("b_id"), F.col("n_fingerprints").alias("b_fingerprints")
    )
    return (
        shared.join(pa, "a_id")
        .join(pb, "b_id")
        .select(
            "a_id",
            "b_id",
            "n_shared",
            "a_fingerprints",
            "b_fingerprints",
            F.round(
                F.col("n_shared")
                / (
                    F.col("a_fingerprints")
                    + F.col("b_fingerprints")
                    - F.col("n_shared")
                ),
                6,
            ).alias("fp_jaccard"),
        )
        .orderBy(F.col("n_shared").desc(), "a_id", "b_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Token-budget allocator (bucketed-threshold, not global-sort)
# ---------------------------------------------------------------------------

_BUDGET_FRAC = 0.2


@register(
    "pipeline_token_budget_allocator",
    oracle=f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
               ROUND(len(list_distinct(string_split(text, ' '))) * 1.0 /
                     len(string_split(text, ' ')), 4) AS score
        FROM documents
    ),
    budget AS (SELECT FLOOR(SUM(tc) * {_BUDGET_FRAC}) AS b FROM d),
    buckets AS (
        SELECT score, SUM(tc) AS btoks FROM d GROUP BY score
    ),
    cum AS MATERIALIZED (
        SELECT score, btoks,
               SUM(btoks) OVER (ORDER BY score DESC) AS cum_toks
        FROM buckets
    ),
    cutoff AS (
        SELECT MIN(score) AS cut FROM cum, budget WHERE cum_toks <= b
    ),
    above AS MATERIALIZED (
        SELECT d.* FROM d, cutoff WHERE d.score >= COALESCE(cut, 1e18)
    ),
    partial AS (
        SELECT d.doc_id, d.source, d.tc FROM d, cutoff, budget
        WHERE d.score =
              (SELECT MAX(score) FROM cum, budget WHERE cum_toks > b)
          AND (SELECT COALESCE(SUM(tc), 0) FROM above) < b
        QUALIFY SUM(d.tc) OVER (ORDER BY d.doc_id)
                <= b - (SELECT COALESCE(SUM(tc), 0) FROM above)
    ),
    admitted AS (
        SELECT doc_id, source, tc FROM above
        UNION ALL SELECT doc_id, source, tc FROM partial
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS admitted_docs,
           CAST(SUM(tc) AS BIGINT) AS admitted_tokens,
           ROUND(SUM(tc) * 1.0 / (SELECT b FROM budget), 6) AS budget_share
    FROM admitted GROUP BY source ORDER BY source
    """,
)
def pipeline_token_budget_allocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first token-budget allocation WITHOUT a global sort:
    admit the highest-scoring documents (score = type-token ratio, rounded
    to 1e-4 buckets; deterministic) until {_BUDGET_FRAC:.0%} of corpus
    tokens are spent. The cutoff comes from a cumulative sum over SCORE
    BUCKETS (≤ 10⁴ rows however large the corpus), fully-admitting buckets
    above the cutoff; only the single boundary bucket pays a doc-granular
    running sum (doc_id order) to fill the remainder exactly.

    Scale shape: this is the 100-TB-safe shape for "take the best X% of
    tokens" — a naive rank-then-running-sum puts the ENTIRE corpus through
    one global sort + one unpartitioned window; here the corpus sees only a
    groupBy(score) aggregate and a broadcast-threshold filter, and the
    unpartitioned window runs on the boundary bucket alone (1/10⁴ of
    rows). Output: per-source admitted docs/tokens and budget share."""
    from pyspark.sql import Window

    # checkpoint: the tokenize
    # projection (three split()s + array_distinct per row) is consumed by
    # FOUR downstream frames (budget, buckets, above, boundary fill) and
    # re-ran per consumer; materialized once it is a 4-column id frame
    # (guide §1.2)
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("tc"),
            F.round(
                F.size(F.array_distinct(F.split("text", " ")))
                / F.size(F.split("text", " ")),
                4,
            ).alias("score"),
        )
        .localCheckpoint(eager=False)
    )
    budget = d.agg(
        F.floor(F.sum("tc") * F.lit(_BUDGET_FRAC)).cast("double").alias("b")
    )
    buckets = d.groupBy("score").agg(F.sum("tc").alias("btoks"))
    cum = buckets.select(
        "score",
        "btoks",
        F.sum("btoks")
        .over(Window.orderBy(F.col("score").desc()))
        .alias("cum_toks"),
    )
    cutoff = (
        cum.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_toks") <= F.col("b"))
        .agg(F.min("score").alias("cut"))
    )
    boundary = (
        cum.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_toks") > F.col("b"))
        .agg(F.max("score").alias("boundary_score"))
    )
    above = d.crossJoin(F.broadcast(cutoff)).filter(
        F.col("score") >= F.coalesce(F.col("cut"), F.lit(1e18))
    )
    above_toks = above.agg(
        F.coalesce(F.sum("tc"), F.lit(0)).cast("double").alias("at")
    )
    remaining = (
        budget.crossJoin(above_toks)
        .select((F.col("b") - F.col("at")).alias("rem"))
    )
    partial = (
        d.crossJoin(F.broadcast(boundary))
        .filter(F.col("score") == F.col("boundary_score"))
        .crossJoin(F.broadcast(remaining))
        .withColumn(
            "run", F.sum("tc").over(Window.orderBy("doc_id"))
        )
        .filter((F.col("rem") > 0) & (F.col("run") <= F.col("rem")))
        .select("doc_id", "source", "tc")
    )
    admitted = above.select("doc_id", "source", "tc").unionByName(partial)
    return (
        admitted.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("admitted_docs"),
            F.sum("tc").cast("bigint").alias("admitted_tokens"),
        )
        .crossJoin(F.broadcast(budget))
        .select(
            "source",
            "admitted_docs",
            "admitted_tokens",
            F.round(F.col("admitted_tokens") / F.col("b"), 6).alias(
                "budget_share"
            ),
        )
        .transform(sort_result, "source")
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: per-user daily activity streaks
# ---------------------------------------------------------------------------


@register(
    "events_activity_streak_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grouped AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS INT) AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
               CAST(COUNT(*) AS BIGINT) AS streak_days
        FROM grouped GROUP BY user_id, island
    )
    SELECT user_id,
           /* ISO strings, not DATE: DuckDB's pandas conversion renders
              date32 as midnight Timestamps while Spark yields date objects
              — the same value hashes differently */
           strftime(streak_start, '%Y-%m-%d') AS streak_start,
           strftime(streak_end, '%Y-%m-%d') AS streak_end,
           streak_days
    FROM streaks
    ORDER BY streak_days DESC, user_id ASC, streak_start ASC
    LIMIT 25
    """,
)
def events_activity_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic gaps-and-islands: longest consecutive-day activity streaks
    per user. day − row_number(day) is constant exactly within a run of
    consecutive days, so grouping by that difference labels each island
    without any self-join or iteration — the retention/engagement primitive
    behind "7-day streak" metrics.

    Scale shape: one distinct (user, day) aggregate, one user-partitioned
    window (both hash-partition on user_id — the window reuses the
    distinct's partitioning, AQE plans one exchange), one island aggregate,
    and a TakeOrderedAndProject top-25. Per-user day counts are bounded by
    the calendar, so no skew."""
    from pyspark.sql import Window

    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    grouped = days.select(
        "user_id", "day", F.date_sub("day", rn).alias("island")
    )
    return (
        grouped.groupBy("user_id", "island")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        )
        .select(
            "user_id",
            F.date_format("streak_start", "yyyy-MM-dd").alias("streak_start"),
            F.date_format("streak_end", "yyyy-MM-dd").alias("streak_end"),
            "streak_days",
        )
        .orderBy(
            F.col("streak_days").desc(),
            F.col("user_id").asc(),
            F.col("streak_start").asc(),
        )
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Diagonal-Mahalanobis OOD screen over embeddings
# ---------------------------------------------------------------------------


@register(
    "embedding_ood_mahalanobis_diag",
    oracle="""
    WITH dims AS MATERIALIZED (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM (SELECT vec_id, embedding,
                     unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)
    ),
    stats AS (
        SELECT i, AVG(x) AS mu,
               SQRT(AVG(x * x) - AVG(x) * AVG(x)) AS sigma
        FROM dims GROUP BY i
    ),
    scored AS (
        SELECT d.vec_id,
               AVG(POW((d.x - s.mu) / CASE WHEN s.sigma > 1e-12
                                           THEN s.sigma ELSE 1.0 END, 2))
                   AS m2
        FROM dims d JOIN stats s ON d.i = s.i
        GROUP BY d.vec_id
    )
    SELECT vec_id, ROUND(m2, 6) AS mahalanobis_sq_mean
    FROM scored
    ORDER BY m2 DESC, vec_id ASC
    LIMIT 20
    """,
)
def embedding_ood_mahalanobis_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution screen: diagonal-covariance Mahalanobis distance
    of every embedding from the corpus centroid — mean over dims of
    ((x−μᵢ)/σᵢ)², the standard cheap OOD score for flagging mis-embedded /
    corrupted / off-domain vectors before they pollute retrieval or
    clustering. Population σ (not sample); σ ≤ 1e-12 dims fall back to
    unit scale (defined, not NaN).

    Scale shape: pass 1 computes the 64-row per-dimension (μ, σ) via ONE
    aggregate of per-dim sums (posexplode + groupBy(i) — uniform keys,
    |dims| groups); the tiny stats frame then BROADCASTS back and scoring
    is a map-only higher-order fold per vector (no second shuffle, no
    explode on the scoring pass). Top-20 is TakeOrderedAndProject. Two
    linear scans total at any corpus size."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = e.select(
        "vec_id", F.posexplode("v").alias("i0", "x")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "x")
    stats = dims.groupBy("i").agg(
        F.avg("x").alias("mu"),
        F.sqrt(F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")).alias(
            "sigma"
        ),
    )
    # broadcast the 64-row stats as aligned arrays; score via one zip fold.
    # Sorted in one partition, so both collect_lists follow dimension order
    packed = stats.transform(sort_result, "i").agg(
        F.collect_list("mu").alias("mus"), F.collect_list("sigma").alias("sigmas")
    )
    # mean over dims: divide by F.size(v) — schema-driven rather than a
    # hard-coded dim constant
    scored = (
        e.join(F.broadcast(packed))
        .select(
            "vec_id",
            (
                F.aggregate(
                    F.zip_with(
                        F.zip_with("v", "mus", lambda x, mu: x - mu),
                        "sigmas",
                        lambda c, s: F.pow(
                            c / F.when(s > 1e-12, s).otherwise(F.lit(1.0)), 2
                        ),
                    ),
                    F.lit(0.0),
                    lambda acc, z: acc + z,
                )
                / F.size("v")
            ).alias("m2"),
        )
    )
    return (
        scored.select("vec_id", F.round("m2", 6).alias("mahalanobis_sq_mean"))
        .orderBy(F.col("m2").desc(), F.col("vec_id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Dense/sparse hybrid blend curve (alpha sweep, shared legs)
# ---------------------------------------------------------------------------

_BLEND_TERMS = ["spark", "join", "vector", "window"]
_BLEND_LEG_K = 20
_BLEND_ALPHAS = (0.0, 0.25, 0.5, 0.75, 1.0)
_BLEND_TOP = 5


def _alpha_blend_oracle() -> str:
    from cobalt_duckdb_spark.operators.bm25 import bm25_oracle_sql

    bm25 = bm25_oracle_sql(_BLEND_TERMS, k=_BLEND_LEG_K)
    alphas = ", ".join(f"({a})" for a in _BLEND_ALPHAS)
    return f"""
    WITH lex AS MATERIALIZED (
        SELECT doc_id, bm25 FROM ({bm25})
    ),
    lexn AS MATERIALIZED (
        SELECT doc_id,
               ROUND(CASE WHEN MAX(bm25) OVER () = MIN(bm25) OVER () THEN 0.5
                    ELSE (bm25 - MIN(bm25) OVER ())
                         / (MAX(bm25) OVER () - MIN(bm25) OVER ()) END, 6)
                   AS lex_n
        FROM lex
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id AS doc_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            q.qv), 6) AS sim
        FROM embeddings e CROSS JOIN q
    ),
    vtop AS MATERIALIZED (
        SELECT doc_id, sim FROM scored
        ORDER BY sim DESC, doc_id LIMIT {_BLEND_LEG_K}
    ),
    vecn AS MATERIALIZED (
        SELECT doc_id,
               ROUND(CASE WHEN MAX(sim) OVER () = MIN(sim) OVER () THEN 0.5
                    ELSE (sim - MIN(sim) OVER ())
                         / (MAX(sim) OVER () - MIN(sim) OVER ()) END, 6)
                   AS vec_n
        FROM vtop
    ),
    pool AS MATERIALIZED (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               COALESCE(l.lex_n, 0) AS lex_n,
               COALESCE(v.vec_n, 0) AS vec_n
        FROM lexn l FULL OUTER JOIN vecn v ON l.doc_id = v.doc_id
    ),
    blended AS (
        SELECT a.alpha, p.doc_id,
               ROUND(a.alpha * p.vec_n + (1 - a.alpha) * p.lex_n, 6) AS blend
        FROM pool p CROSS JOIN (VALUES {alphas}) AS a(alpha)
    )
    SELECT alpha, CAST(rnk AS BIGINT) AS rank, doc_id, blend
    FROM (
        SELECT alpha, doc_id, blend,
               ROW_NUMBER() OVER (PARTITION BY alpha
                                  ORDER BY blend DESC, doc_id) AS rnk
        FROM blended
    ) WHERE rnk <= {_BLEND_TOP}
    ORDER BY alpha, rank
    """


@register("hybrid_alpha_blend_curve", oracle=_alpha_blend_oracle())
def hybrid_alpha_blend_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense/sparse hybrid-retrieval TUNING curve: min-max-normalize each
    leg's top-{_BLEND_LEG_K} scores (BM25 lexical / cosine dense), blend as
    α·dense + (1−α)·lexical for α ∈ {_BLEND_ALPHAS}, and report each α's
    top-{_BLEND_TOP} — how a retrieval team picks the blend weight without
    re-running retrieval per candidate α. Normalized scores round to 6 dp
    BEFORE blending so cross-engine ulp drift can't flip a rank; ties break
    by doc_id. Degenerate legs (max = min over the pool) pin to 0.5 instead
    of dividing by zero.

    Scale shape: the α sweep is the ``recall_nprobe_curve`` pattern — both
    legs computed ONCE (each an already-audited plan: BM25's
    filter-before-shuffle aggregates; the dense leg's broadcast-query
    map-only scan → TakeOrderedAndProject), fused by one full-outer join of
    two {_BLEND_LEG_K}-row frames, then the 5-value α axis joins as an
    exploded literal array — 5× the POOL (tiny), never 5× the retrieval."""
    from pyspark.sql import Window

    from cobalt_duckdb_spark.functions.vector import cosine_similarity
    from cobalt_duckdb_spark.operators.bm25 import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    wall = Window.partitionBy()

    lex = bm25_topk(d, _BLEND_TERMS, k=_BLEND_LEG_K).select("doc_id", "bm25")
    mn, mx = F.min("bm25").over(wall), F.max("bm25").over(wall)
    lexn = lex.select(
        "doc_id",
        F.round(
            F.when(mx == mn, F.lit(0.5)).otherwise((F.col("bm25") - mn) / (mx - mn)),
            6,
        ).alias("lex_n"),
    )

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    vtop = (
        emb.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), F.col("qv")),
                6,
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("doc_id").asc())
        .limit(_BLEND_LEG_K)
    )
    vmn, vmx = F.min("sim").over(wall), F.max("sim").over(wall)
    vecn = vtop.select(
        "doc_id",
        F.round(
            F.when(vmx == vmn, F.lit(0.5)).otherwise(
                (F.col("sim") - vmn) / (vmx - vmn)
            ),
            6,
        ).alias("vec_n"),
    )

    pool = (
        lexn.join(vecn, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_n", F.lit(0.0)).alias("lex_n"),
            F.coalesce("vec_n", F.lit(0.0)).alias("vec_n"),
        )
    )
    alphas = F.explode(F.array(*[F.lit(a) for a in _BLEND_ALPHAS])).alias("alpha")
    blended = pool.select("*", alphas).select(
        "alpha",
        "doc_id",
        F.round(
            F.col("alpha") * F.col("vec_n") + (1 - F.col("alpha")) * F.col("lex_n"),
            6,
        ).alias("blend"),
    )
    rnk = F.row_number().over(
        Window.partitionBy("alpha").orderBy(F.col("blend").desc(), F.col("doc_id"))
    )
    return (
        blended.withColumn("rank", rnk.cast("bigint"))
        .filter(F.col("rank") <= _BLEND_TOP)
        .select("alpha", "rank", "doc_id", "blend")
        .transform(sort_result, "alpha", "rank")
    )


# ---------------------------------------------------------------------------
# Cross-table reconciliation audit (orders vs recomputed lineitem totals)
# ---------------------------------------------------------------------------


@register(
    "dq_orders_lineitem_reconciliation",
    oracle="""
    WITH recomputed AS (
        SELECT l_orderkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                        AS DECIMAL(28, 6))) AS recomp
        FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
        SELECT o.o_orderkey, o.o_totalprice, r.recomp,
               ABS(CAST(o.o_totalprice AS DECIMAL(28, 6))
                   - COALESCE(r.recomp, 0)) AS adiff,
               r.l_orderkey IS NULL AS orphan_order
        FROM orders o LEFT JOIN recomputed r ON o.o_orderkey = r.l_orderkey
    ),
    banded AS (
        SELECT CASE WHEN orphan_order THEN 'no_lineitems'
                    WHEN adiff <= 0.01 THEN 'exact_0.01'
                    WHEN adiff <= 1.0 THEN 'within_1'
                    WHEN adiff <= 100.0 THEN 'within_100'
                    ELSE 'above_100' END AS band,
               adiff
        FROM joined
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {avg_adiff} AS avg_abs_diff,
           CAST(ROUND(MAX(adiff), 4) AS DOUBLE) AS max_abs_diff
    FROM banded GROUP BY band ORDER BY band
    """.format(avg_adiff=exact_round_avg_sql("adiff", 4)),
)
def dq_orders_lineitem_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation: recompute each order's total
    from its line items (extendedprice × (1−discount) × (1+tax)) and band
    the absolute deviation from the stored ``o_totalprice`` — the audit
    every warehouse runs to catch partial loads, double-applied discounts,
    and orphaned headers. Orders with NO line items report as their own
    band rather than vanishing (LEFT join + explicit orphan flag).

    Scale shape: one l_orderkey-keyed partial aggregate over the fact table
    (map-side combine does most of the work), one equi-join on the order
    key (both sides shuffle-partitioned on it; uniform TPC-H-style keys, no
    skew), and a ≤ 5-row band aggregate. The audit touches each table
    once."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # Exact-decimal reconciliation: the true per-line charge lives on the
    # 1e-6 lattice (three 2-dp factors), so snapping the double product to
    # DECIMAL(28,6) recovers it exactly and the per-order sum, the adiff,
    # and the band cutoffs (adiff <= 0.01!) are all exact — a double sum
    # would make band membership depend on accumulation order at the edge.
    recomputed = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("decimal(28,6)")
        ).alias("recomp")
    )
    joined = o.join(
        recomputed, o.o_orderkey == recomputed.l_orderkey, "left"
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.abs(
            F.col("o_totalprice").cast("decimal(28,6)")
            - F.coalesce("recomp", F.lit(0).cast("decimal(28,6)"))
        ).alias("adiff"),
        F.col("l_orderkey").isNull().alias("orphan_order"),
    )
    band = (
        F.when(F.col("orphan_order"), "no_lineitems")
        .when(F.col("adiff") <= 0.01, "exact_0.01")
        .when(F.col("adiff") <= 1.0, "within_1")
        .when(F.col("adiff") <= 100.0, "within_100")
        .otherwise("above_100")
    )
    return (
        joined.select(band.alias("band"), "adiff")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            exact_round_avg(F.col("adiff"), 4).alias("avg_abs_diff"),
            F.round(F.max("adiff"), 4).cast("double").alias("max_abs_diff"),
        )
        .transform(sort_result, "band")
    )


# ---------------------------------------------------------------------------
# Piecewise-linear trend fit over fixed knots (hourly event volume)
# ---------------------------------------------------------------------------

_PW_SEGMENTS = 3


@register(
    "events_piecewise_trend_knots",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT y,
               CAST(date_diff('hour', (SELECT MIN(hr) FROM hourly), hr)
                    AS DOUBLE) AS x,
               CAST(date_diff('hour', (SELECT MIN(hr) FROM hourly),
                              (SELECT MAX(hr) FROM hourly)) AS DOUBLE) AS span
        FROM hourly
    ),
    seg AS (
        SELECT LEAST({_PW_SEGMENTS - 1},
                     CAST(FLOOR({_PW_SEGMENTS} * x / (span + 1)) AS INT))
                   AS seg_idx,
               x, y
        FROM idx
    ),
    fit AS (
        SELECT seg_idx,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM seg GROUP BY seg_idx
    )
    SELECT seg_idx,
           CAST(n AS BIGINT) AS n_hours,
           {spark_round_sql("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)}
               AS slope,
           {spark_round_sql(
               "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n", 6
           )}
               AS intercept,
           ROUND(CASE WHEN (n * syy - sy * sy) <= 0 THEN 1.0
                      ELSE POW(n * sxy - sx * sy, 2)
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 END, 6) AS r2
    FROM fit ORDER BY seg_idx
    """,
)
def events_piecewise_trend_knots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-linear trend: split the hourly event-volume series into
    {_PW_SEGMENTS} fixed equal-width time segments (knots at the span
    thirds) and fit each by closed-form OLS — slope, intercept, and R² from
    the five running sums (n, Σx, Σy, Σx², Σxy, Σy²). The non-iterative
    sibling of CUSUM changepoints: "did the growth rate change across the
    month, and how well does a line explain each regime". Zero-variance
    segments pin R² to 1.0 (a constant is a perfect line) instead of 0/0.

    Scale shape: one hour-truncated aggregate (calendar-bounded key space),
    a 1-row min/max span broadcast, then a {_PW_SEGMENTS}-group sum
    aggregate — OLS by sufficient statistics is embarrassingly parallel and
    never materializes a design matrix. The classic "regression as
    aggregation" pattern that survives any corpus size."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    span_f = hourly.agg(
        F.min("hr").alias("hr0"), F.max("hr").alias("hr1")
    )
    idx = hourly.crossJoin(F.broadcast(span_f)).select(
        "y",
        (
            (F.unix_timestamp("hr") - F.unix_timestamp("hr0")) / 3600
        ).cast("double").alias("x"),
        (
            (F.unix_timestamp("hr1") - F.unix_timestamp("hr0")) / 3600
        ).cast("double").alias("span"),
    )
    seg = idx.select(
        F.least(
            F.lit(_PW_SEGMENTS - 1),
            F.floor(F.lit(_PW_SEGMENTS) * F.col("x") / (F.col("span") + 1)).cast(
                "int"
            ),
        ).alias("seg_idx"),
        "x",
        "y",
    )
    fit = seg.groupBy("seg_idx").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    sst = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r2 = F.when(sst <= 0, F.lit(1.0)).otherwise(
        F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
        / ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * sst)
    )
    return fit.select(
        "seg_idx",
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(r2, 6).alias("r2"),
    ).transform(sort_result, "seg_idx")


# ---------------------------------------------------------------------------
# Absolute-discount backoff bigram LM → per-source perplexity
# ---------------------------------------------------------------------------

_AD_DISCOUNT = 0.75


@register(
    "text_backoff_bigram_perplexity",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, source, i AS pos, t[i] AS w
        FROM (SELECT doc_id, source, string_split(text, ' ') AS t,
                     unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
              FROM documents)
    ),
    bigr AS MATERIALIZED (
        SELECT a.source, a.w AS w1, b.w AS w2
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c2 AS MATERIALIZED (
        SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c12
        FROM bigr GROUP BY w1, w2
    ),
    c1 AS MATERIALIZED (
        SELECT w1, SUM(c12) AS c1, CAST(COUNT(*) AS DOUBLE) AS n1plus
        FROM c2 GROUP BY w1
    ),
    uni AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS DOUBLE) AS cw FROM toks GROUP BY w
    ),
    n_tok AS (SELECT SUM(cw) AS n FROM uni),
    scored AS (
        SELECT g.source,
               ROUND(-LN(GREATEST(cc.c12 - {_AD_DISCOUNT}, 0) / c1.c1
                         + ({_AD_DISCOUNT} * c1.n1plus / c1.c1)
                           * (u.cw / (SELECT n FROM n_tok))), 9) AS nll
        FROM bigr g
        JOIN c2 cc ON g.w1 = cc.w1 AND g.w2 = cc.w2
        JOIN c1 ON g.w1 = c1.w1
        JOIN uni u ON g.w2 = u.w
    )
    /* spark_round_sql on the cross-entropy: a source whose every scored
       bigram has probability 1 averages -0.0 nll values to IEEE -0.0;
       DuckDB ROUND keeps the sign, Spark normalizes (r9 signed-zero
       sweep). Perplexity is EXP-wrapped (exp(-0.0) = +1.0 on both) and
       needs no guard. */
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {spark_round_sql('AVG(nll)', 6)} AS cross_entropy_nats,
           ROUND(EXP(AVG(nll)), 4) AS perplexity
    FROM scored GROUP BY source ORDER BY source
    """,
)
def text_backoff_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated absolute-discount bigram LM (the Kneser–Ney precursor:
    P(w₂|w₁) = max(c₁₂−D,0)/c₁ + D·n₁₊(w₁)/c₁ · P_uni(w₂), D={_AD_DISCOUNT})
    trained on the corpus and scored per SOURCE as cross-entropy /
    perplexity — the perplexity-based quality signal data teams use to rank
    sources against a reference LM, with the discount mass redistributed
    through the unigram backoff instead of the add-k smoothing of
    ``text_bigram_lm_score``. Per-bigram −ln P rounds to 9 dp on both
    engines before averaging so cross-engine log ulps can't drift the mean.

    Scale shape: ONE tokenize pass feeds the bigram stream (lead-window
    free: position self-join stays doc_id-keyed, co-partitioned), the
    count tables are token-keyed aggregates (map-side combine; vocab-sized
    outputs), and scoring is three equi-joins keyed on tokens — each side
    hash-partitioned on its key, no broadcast of anything corpus-sized.
    Per-source rollup ends ≤ |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos0", "w"),
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "w")
    toks = toks.localCheckpoint(eager=False)
    a = toks.select("doc_id", "source", "pos", F.col("w").alias("w1"))
    b = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("w").alias("w2")
    )
    bigr = a.join(b, ["doc_id", "pos"]).select("source", "w1", "w2")
    bigr = bigr.localCheckpoint(eager=False)
    c2 = bigr.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c12")
    )
    c1 = c2.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).cast("double").alias("n1plus")
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("cw"))
    n_tok = uni.agg(F.sum("cw").alias("n"))
    p = (
        F.greatest(F.col("c12") - _AD_DISCOUNT, F.lit(0.0)) / F.col("c1")
        + (_AD_DISCOUNT * F.col("n1plus") / F.col("c1"))
        * (F.col("cw") / F.col("n"))
    )
    scored = (
        bigr.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(uni.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select("source", F.round(-F.log(p), 9).alias("nll"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("cross_entropy_nats"),
            F.round(F.exp(F.avg("nll")), 4).alias("perplexity"),
        )
        .transform(sort_result, "source")
    )


# ---------------------------------------------------------------------------
# Bloom-filter admission prefilter audit
# ---------------------------------------------------------------------------

_BLOOM_BITS = 16384  # m: filter size in bits
_BLOOM_K = 3  # hash functions
_BLOOM_WORD = 32  # bits packed per word (keeps 2^bit < 2^31: no sign games)


def _bloom_oracle() -> str:
    pos = " UNION ALL ".join(
        f"""SELECT fp, ('0x' || substr(md5('{j}:' || fp), 1, 8))::BIGINT
                % {_BLOOM_BITS} AS p
        FROM fps"""
        for j in range(_BLOOM_K)
    )
    return f"""
    WITH corpus AS MATERIALIZED (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE source = 'src0'
    ),
    batch AS MATERIALIZED (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE source <> 'src0'
    ),
    cpos AS (
        SELECT p // {_BLOOM_WORD} AS word, p % {_BLOOM_WORD} AS bit
        FROM (WITH fps AS (SELECT fp FROM corpus) {pos})
    ),
    bloom AS MATERIALIZED (
        SELECT word,
               SUM(DISTINCT CAST(POW(2, bit) AS BIGINT)) AS val
        FROM cpos GROUP BY word
    ),
    bpos AS (
        SELECT fp, p // {_BLOOM_WORD} AS word, p % {_BLOOM_WORD} AS bit
        FROM (WITH fps AS (SELECT DISTINCT fp FROM batch) {pos})
    ),
    probed AS (
        SELECT b.fp,
               SUM(CASE WHEN CAST(FLOOR(bl.val / POW(2, b.bit)) AS BIGINT)
                             % 2 = 1
                        THEN 1 ELSE 0 END) AS hits
        FROM bpos b LEFT JOIN bloom bl ON b.word = bl.word
        GROUP BY b.fp
    ),
    flags AS MATERIALIZED (
        SELECT bt.doc_id, p.hits = {_BLOOM_K} AS flagged,
               bt.fp IN (SELECT fp FROM corpus) AS is_dup
        FROM batch bt JOIN probed p ON bt.fp = p.fp
    ),
    m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_corpus FROM corpus)
    SELECT CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS corpus_fps,
           CAST(COUNT(*) AS BIGINT) AS batch_docs,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
               AS flagged_docs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS true_dups,
           CAST(SUM(CASE WHEN flagged AND NOT is_dup THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           ROUND(SUM(CASE WHEN flagged AND NOT is_dup THEN 1 ELSE 0 END)
                 * 1.0 / SUM(CASE WHEN NOT is_dup THEN 1 ELSE 0 END), 6)
               AS observed_fp_rate,
           ROUND(POW(1 - POW(1 - 1.0 / {_BLOOM_BITS},
                             {_BLOOM_K} * (SELECT n_corpus FROM m)),
                     {_BLOOM_K}), 6) AS predicted_fp_rate
    FROM flags
    """


@register("dedup_bloom_prefilter_audit", oracle=_bloom_oracle())
def dedup_bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter admission prefilter with its audit: build an m={_BLOOM_BITS}-bit,
    k={_BLOOM_K}-hash Bloom filter over the frozen corpus's (src0) exact text
    fingerprints, probe every incoming batch doc, and report observed vs
    binomially-predicted false-positive rate — the screen an ingest pipeline
    runs BEFORE the expensive dedup join (a negative answer is certain, so
    only flagged docs pay the join). Bit ops are expressed portably: words
    pack {_BLOOM_WORD} bits, set-bit union is SUM(DISTINCT 2^bit) (distinct
    powers sum without carries ≡ OR), membership is floor(val/2^bit) mod 2 —
    exact in doubles below 2^53, no engine-specific bitwise ops.

    Scale shape: the filter is {_BLOOM_BITS // _BLOOM_WORD} words however big
    the corpus — built by one aggregate, BROADCAST to probes (at 100 TB the
    real filter would be GB-scale; same plan with a bigger broadcast or a
    bucketed word join). Probing is k md5s per doc + a broadcast join; the
    audit's truth check is one semi-join on fingerprints. This is the third
    probabilistic-structure family in the repo (CMS sketch, MinHash, now
    Bloom)."""
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("source") == "src0")
        .select(F.md5("text").alias("fp"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    batch = d.filter(F.col("source") != "src0").select(
        "doc_id", F.md5("text").alias("fp")
    )

    def positions(fps: DataFrame) -> DataFrame:
        hashes = F.array(
            *[
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{j}:"), F.col("fp"))), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % _BLOOM_BITS
                for j in range(_BLOOM_K)
            ]
        )
        return fps.select("fp", F.explode(hashes).alias("p")).select(
            "fp",
            (F.col("p") / _BLOOM_WORD).cast("bigint").alias("word"),
            (F.col("p") % _BLOOM_WORD).alias("bit"),
        )

    bloom = (
        positions(corpus)
        .select("word", F.pow(F.lit(2.0), F.col("bit")).cast("bigint").alias("pw"))
        .groupBy("word")
        .agg(F.sum_distinct("pw").alias("val"))
    )
    probed = (
        positions(batch.select("fp").distinct())
        .join(F.broadcast(bloom), "word", "left")
        .select(
            "fp",
            F.when(
                F.floor(F.col("val") / F.pow(F.lit(2.0), F.col("bit")))
                .cast("bigint")
                % 2
                == 1,
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("fp")
        .agg(F.sum("hit").alias("hits"))
    )
    truth = corpus.select(F.col("fp").alias("tfp"), F.lit(True).alias("is_dup"))
    flags = (
        batch.join(probed, "fp")
        .join(F.broadcast(truth), batch.fp == truth.tfp, "left")
        .select(
            "doc_id",
            (F.col("hits") == _BLOOM_K).alias("flagged"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )
    n_corpus = corpus.agg(F.count(F.lit(1)).cast("double").alias("n_corpus"))
    predicted = F.round(
        F.pow(
            1
            - F.pow(F.lit(1.0 - 1.0 / _BLOOM_BITS), F.lit(float(_BLOOM_K)) * F.col("n_corpus")),
            _BLOOM_K,
        ),
        6,
    )
    return (
        flags.agg(
            F.count(F.lit(1)).cast("bigint").alias("batch_docs"),
            F.sum(F.when(F.col("flagged"), 1).otherwise(0))
            .cast("bigint")
            .alias("flagged_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("true_dups"),
            F.sum(F.when(F.col("flagged") & ~F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("false_positives"),
            F.sum(F.when(~F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("_non_dups"),
        )
        .crossJoin(F.broadcast(n_corpus))
        .select(
            F.col("n_corpus").cast("bigint").alias("corpus_fps"),
            "batch_docs",
            "flagged_docs",
            "true_dups",
            "false_positives",
            # _non_dups CAN be zero — a batch that is 100% duplicates of the
            # corpus (the all-degenerate fuzz world collapses every text to
            # one of 3 forms). DuckDB division by zero yields NULL; Spark's
            # ANSI mode RAISES — guard to the shared NULL contract (no
            # non-dup population → FP rate undefined).
            F.round(
                F.when(
                    F.col("_non_dups") > 0,
                    F.col("false_positives") / F.col("_non_dups"),
                ),
                6,
            ).alias("observed_fp_rate"),
            predicted.alias("predicted_fp_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Random-projection tree partition audit (Annoy-style, depth 2)
# ---------------------------------------------------------------------------

_RP_DIM = 64


def _rp_vector(level: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free projection vector: md5-derived
    uniform(-0.5, 0.5) per (level, dim-index) — reproducible everywhere."""
    import hashlib

    return [
        int.from_bytes(
            hashlib.md5(f"rp{level}:{i}".encode()).digest()[:4], "big"
        )
        / 4294967296.0
        - 0.5
        for i in range(dim)
    ]


def _rp_oracle() -> str:
    r1 = "[" + ", ".join(repr(x) for x in _rp_vector(1, _RP_DIM)) + "]"
    r2 = "[" + ", ".join(repr(x) for x in _rp_vector(2, _RP_DIM)) + "]"
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    proj AS MATERIALIZED (
        SELECT vec_id, v,
               ROUND(list_sum(list_transform(list_zip(v, {r1}),
                                             p -> p[1] * p[2])), 9) AS p1,
               ROUND(list_sum(list_transform(list_zip(v, {r2}),
                                             p -> p[1] * p[2])), 9) AS p2
        FROM e
    ),
    m1 AS (SELECT quantile_cont(p1, 0.5) AS med1 FROM proj),
    lvl1 AS MATERIALIZED (
        SELECT vec_id, v, p2,
               CASE WHEN p1 <= (SELECT med1 FROM m1) THEN 'L' ELSE 'R' END
                   AS side
        FROM proj
    ),
    m2 AS MATERIALIZED (
        SELECT side, quantile_cont(p2, 0.5) AS med2 FROM lvl1 GROUP BY side
    ),
    leaves AS MATERIALIZED (
        SELECT l.vec_id, l.v,
               l.side || CASE WHEN l.p2 <= m.med2 THEN 'L' ELSE 'R' END
                   AS leaf
        FROM lvl1 l JOIN m2 m ON l.side = m.side
    ),
    cent AS MATERIALIZED (
        SELECT leaf, i, AVG(v[i]) AS c
        FROM (SELECT leaf, v, unnest(range(1, {_RP_DIM} + 1)) AS i
              FROM leaves)
        GROUP BY leaf, i
    ),
    cvec AS MATERIALIZED (
        SELECT leaf, list(c ORDER BY i) AS cv FROM cent GROUP BY leaf
    ),
    scored AS (
        SELECT l.leaf,
               list_cosine_similarity(l.v, c.cv) AS cos_c
        FROM leaves l JOIN cvec c ON l.leaf = c.leaf
    )
    SELECT leaf, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(cos_c), 6) AS mean_cos_to_centroid
    FROM scored GROUP BY leaf ORDER BY leaf
    """


@register("embedding_rptree_partition_audit", oracle=_rp_oracle())
def embedding_rptree_partition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection tree partitioning (the Annoy/FLANN indexing family)
    at depth 2: project every vector onto two fixed md5-derived directions,
    split at the MEDIAN each level (guaranteed balanced halves, unlike
    k-means cells), and audit the four leaves — size balance and mean
    cosine-to-centroid (how geometrically coherent each leaf is). The third
    ANN indexing family in the repo next to IVF (centroidal) and LSH
    (hash-bucketed); median splits are what make RP-trees robust to skewed
    density. Projections round to 9 dp before the median/compare so
    cross-engine ulp drift can't flip a boundary assignment.

    Scale shape: projections are map-only folds over broadcast literal
    direction vectors; each median is ``percentile`` — one pass + a tiny
    exchange (Spark computes exact percentiles via a single aggregate, not
    a sort); leaf assignment is a broadcast join against ≤ 2 medians;
    centroids are a (leaf, dim)-keyed aggregate (256 groups). Nothing
    corpus-sized shuffles except the one posexplode for centroids — and at
    100 TB that pass is replaced by per-partition partial mean vectors, the
    same shape ``cluster_kmeans_lloyd`` uses."""
    r1, r2 = _rp_vector(1, _RP_DIM), _rp_vector(2, _RP_DIM)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def proj(rvec: list[float]) -> "F.Column":
        return F.round(
            F.aggregate(
                F.zip_with("v", F.array(*[F.lit(x) for x in rvec]), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        )

    projected = e.select(
        "vec_id", "v", proj(r1).alias("p1"), proj(r2).alias("p2")
    ).localCheckpoint(eager=False)
    m1 = projected.agg(F.percentile("p1", 0.5).alias("med1"))
    lvl1 = projected.crossJoin(F.broadcast(m1)).select(
        "vec_id",
        "v",
        "p2",
        F.when(F.col("p1") <= F.col("med1"), "L").otherwise("R").alias("side"),
    )
    m2 = lvl1.groupBy("side").agg(F.percentile("p2", 0.5).alias("med2"))
    leaves = (
        lvl1.join(F.broadcast(m2), "side")
        .select(
            "vec_id",
            "v",
            F.concat(
                "side", F.when(F.col("p2") <= F.col("med2"), "L").otherwise("R")
            ).alias("leaf"),
        )
        .localCheckpoint(eager=False)
    )
    cent = (
        leaves.select("leaf", F.posexplode("v").alias("i", "x"))
        .groupBy("leaf", "i")
        .agg(F.avg("x").alias("c"))
    )
    cvec = cent.groupBy("leaf").agg(
        F.array_sort(
            F.collect_list(F.struct("i", "c"))
        ).alias("packed")
    ).select("leaf", F.col("packed.c").alias("cv"))
    from cobalt_duckdb_spark.functions.vector import cosine_similarity

    scored = leaves.join(F.broadcast(cvec), "leaf").select(
        "leaf", cosine_similarity("v", "cv").alias("cos_c")
    )
    return (
        scored.groupBy("leaf")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(F.avg("cos_c"), 6).alias("mean_cos_to_centroid"),
        )
        .transform(sort_result, "leaf")
    )


# ---------------------------------------------------------------------------
# Quality-score calibration audit (reliability bins + ECE + Brier)
# ---------------------------------------------------------------------------


@register(
    "pipeline_quality_calibration_ece",
    oracle="""
    WITH d AS (
        SELECT ROUND(len(list_distinct(string_split(text, ' '))) * 1.0 /
                     len(string_split(text, ' ')), 4) AS s,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ),
    binned AS MATERIALIZED (
        SELECT LEAST(9, CAST(FLOOR(s * 10) AS INT)) AS bin_idx, s, y
        FROM d
    ),
    per_bin AS MATERIALIZED (
        SELECT bin_idx, CAST(COUNT(*) AS BIGINT) AS n,
               AVG(s) AS mean_score, AVG(y) AS frac_positive
        FROM binned GROUP BY bin_idx
    ),
    tot AS (
        SELECT SUM(n * ABS(mean_score - frac_positive)) / SUM(n) AS ece
        FROM per_bin
    ),
    brier AS (SELECT AVG(POW(s - y, 2)) AS brier FROM binned)
    SELECT bin_idx, n,
           ROUND(mean_score, 6) AS mean_score,
           ROUND(frac_positive, 6) AS frac_positive,
           ROUND(ABS(mean_score - frac_positive), 6) AS abs_gap,
           ROUND((SELECT ece FROM tot), 6) AS ece,
           ROUND((SELECT brier FROM brier), 6) AS brier
    FROM per_bin ORDER BY bin_idx
    """,
)
def pipeline_quality_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit for a quality scorer: treat the deterministic
    type-token-ratio score as P(doc is English-labeled) and measure how
    calibrated it is against the lang label — per-decile reliability bins
    (mean score vs observed positive fraction), expected calibration error
    (ECE = Σ nᵦ/N·|gap|), and the Brier score. The audit a data team runs
    before TRUSTING a quality classifier's scores as sampling weights; the
    production classifier's probability column drops in for ``s``
    unchanged.

    Scale shape: one map-only score/label projection, a ≤ 10-group bin
    aggregate, and two 1-row summary aggregates broadcast back onto the bin
    rows. Corpus is touched once."""
    d = load_table(spark, sf_dir, "documents").select(
        F.round(
            F.size(F.array_distinct(F.split("text", " ")))
            / F.size(F.split("text", " ")),
            4,
        ).alias("s"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    binned = d.select(
        F.least(F.lit(9), F.floor(F.col("s") * 10).cast("int")).alias("bin_idx"),
        "s",
        "y",
    ).localCheckpoint(eager=False)
    per_bin = binned.groupBy("bin_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("s").alias("mean_score"),
        F.avg("y").alias("frac_positive"),
    )
    tot = per_bin.agg(
        (
            F.sum(F.col("n") * F.abs(F.col("mean_score") - F.col("frac_positive")))
            / F.sum("n")
        ).alias("ece")
    )
    brier = binned.agg(F.avg(F.pow(F.col("s") - F.col("y"), 2)).alias("brier"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(brier))
        .select(
            "bin_idx",
            "n",
            F.round("mean_score", 6).alias("mean_score"),
            F.round("frac_positive", 6).alias("frac_positive"),
            F.round(F.abs(F.col("mean_score") - F.col("frac_positive")), 6).alias(
                "abs_gap"
            ),
            F.round("ece", 6).alias("ece"),
            F.round("brier", 6).alias("brier"),
        )
        .transform(sort_result, "bin_idx")
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend estimator (daily volume)
# ---------------------------------------------------------------------------


@register(
    "stats_theil_sen_slope",
    oracle="""
    WITH daily AS MATERIALIZED (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS DOUBLE) AS x,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    slopes AS MATERIALIZED (
        SELECT ROUND((b.y - a.y) / (b.x - a.x), 9) AS m
        FROM daily a JOIN daily b ON b.x > a.x
    ),
    sen AS (SELECT quantile_cont(m, 0.5) AS sen_slope FROM slopes),
    icept AS (
        SELECT quantile_cont(ROUND(y - (SELECT sen_slope FROM sen) * x, 9),
                             0.5) AS sen_intercept
        FROM daily
    ),
    ols AS (
        SELECT (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
               / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) AS ols_slope
        FROM daily
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_pairs,
           ROUND((SELECT sen_slope FROM sen), 6) AS sen_slope,
           ROUND((SELECT sen_intercept FROM icept), 6) AS sen_intercept,
           ROUND((SELECT ols_slope FROM ols), 6) AS ols_slope
    """,
)
def stats_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the MEDIAN of all pairwise slopes over the
    daily event-volume series (plus the median-residual intercept), shown
    against the OLS slope — the estimator that shrugs off the outlier days
    that drag least-squares around (~29% breakdown point). The effect-size
    companion to ``events_mann_kendall_trend``'s significance test, built
    on the same bounded frame. Pairwise slopes round to 9 dp before the
    median so cross-engine ulp drift can't reorder the middle elements.

    Scale shape: the pairwise self-join is over DAILY aggregates — days²
    pairs (30 days → 435), never events² — after one calendar-bounded
    groupBy of the raw table. Both medians run on that tiny frame; OLS
    comes from the same sufficient-statistic aggregate as the piecewise
    fit. The raw table is touched exactly once."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
        .select(
            F.datediff("day", F.lit("2024-01-01")).cast("double").alias("x"),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = a.join(b, F.col("xb") > F.col("xa")).select(
        F.round((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa")), 9).alias(
            "m"
        )
    )
    sen = slopes.agg(F.percentile("m", 0.5).alias("sen_slope"))
    icept = (
        daily.crossJoin(F.broadcast(sen))
        .select(
            F.round(F.col("y") - F.col("sen_slope") * F.col("x"), 9).alias("r")
        )
        .agg(F.percentile("r", 0.5).alias("sen_intercept"))
    )
    ols = daily.agg(
        (
            (F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
             - F.sum("x") * F.sum("y"))
            / (F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
               - F.sum("x") * F.sum("x"))
        ).alias("ols_slope")
    )
    counts = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    pair_n = slopes.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return (
        counts.crossJoin(F.broadcast(pair_n))
        .crossJoin(F.broadcast(sen))
        .crossJoin(F.broadcast(icept))
        .crossJoin(F.broadcast(ols))
        .select(
            "n_days",
            "n_pairs",
            F.round("sen_slope", 6).alias("sen_slope"),
            F.round("sen_intercept", 6).alias("sen_intercept"),
            F.round("ols_slope", 6).alias("ols_slope"),
        )
    )


# ---------------------------------------------------------------------------
# Feature-hashing collision audit
# ---------------------------------------------------------------------------

_FH_BUCKET_BITS = (10, 12, 14)  # 1k / 4k / 16k buckets


@register(
    "features_hashing_collision_audit",
    oracle=f"""
    WITH vocab AS MATERIALIZED (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    sized AS (
        SELECT b, CAST(POW(2, b) AS BIGINT) AS n_buckets FROM
            (VALUES {", ".join(f"({b})" for b in _FH_BUCKET_BITS)}) AS t(b)
    ),
    hashed AS (
        SELECT s.b, s.n_buckets,
               ('0x' || substr(md5(v.w), 1, 8))::BIGINT % s.n_buckets
                   AS bucket
        FROM vocab v CROSS JOIN sized s
    ),
    occupancy AS (
        SELECT b, n_buckets, bucket, COUNT(*) AS load
        FROM hashed GROUP BY b, n_buckets, bucket
    )
    SELECT b AS bucket_bits,
           CAST((SELECT COUNT(*) FROM vocab) AS BIGINT) AS vocab_size,
           CAST(MAX(n_buckets) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN load > 1 THEN load ELSE 0 END) AS BIGINT)
               AS collided_terms,
           ROUND(SUM(CASE WHEN load > 1 THEN load ELSE 0 END) * 1.0
                 / (SELECT COUNT(*) FROM vocab), 6) AS collision_rate,
           CAST(MAX(load) AS BIGINT) AS max_bucket_load,
           ROUND(1.0 - POW(1.0 - 1.0 / MAX(n_buckets),
                           (SELECT COUNT(*) FROM vocab) - 1), 6)
               AS expected_pair_rate
    FROM occupancy GROUP BY b ORDER BY b
    """,
)
def features_hashing_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick sizing audit: hash the corpus vocabulary into 2^b
    buckets for b ∈ {_FH_BUCKET_BITS} and report the collision profile —
    how many terms share a bucket, the worst bucket load, and the
    birthday-bound expectation — the measurement behind choosing
    ``numFeatures`` for HashingTF / feature-hashed models instead of
    folklore defaults. One query answers all three candidate sizes.

    Scale shape: vocabulary is ONE distinct over exploded tokens (the only
    corpus-sized shuffle, token-keyed and uniform); the 3-size axis joins as
    a literal frame, so the bucket histogram is a (3·|vocab|)-row aggregate
    with md5-uniform keys. At a 10⁸ vocabulary the same plan holds;
    the occupancy table is bounded by Σ 2^b."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    vsize = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"))
    sized = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(b) for b in _FH_BUCKET_BITS])
        ).alias("b")
    ).select("b", F.pow(F.lit(2.0), F.col("b")).cast("bigint").alias("n_buckets"))
    from cobalt_duckdb_spark.operators.dedup import token_hash

    hashed = vocab.crossJoin(F.broadcast(sized)).select(
        "b", "n_buckets", (token_hash(F.col("w")) % F.col("n_buckets")).alias("bucket")
    )
    occupancy = hashed.groupBy("b", "n_buckets", "bucket").agg(
        F.count(F.lit(1)).alias("load")
    )
    return (
        occupancy.groupBy("b")
        .agg(
            F.max("n_buckets").alias("n_buckets"),
            F.sum(F.when(F.col("load") > 1, F.col("load")).otherwise(0))
            .cast("bigint")
            .alias("collided_terms"),
            F.max("load").cast("bigint").alias("max_bucket_load"),
        )
        .crossJoin(F.broadcast(vsize))
        .select(
            F.col("b").alias("bucket_bits"),
            "vocab_size",
            "n_buckets",
            "collided_terms",
            F.round(F.col("collided_terms") / F.col("vocab_size"), 6).alias(
                "collision_rate"
            ),
            "max_bucket_load",
            F.round(
                1.0
                - F.pow(
                    1.0 - 1.0 / F.col("n_buckets"), F.col("vocab_size") - 1
                ),
                6,
            ).alias("expected_pair_rate"),
        )
        .transform(sort_result, "bucket_bits")
    )


# ---------------------------------------------------------------------------
# Leave-one-source-out influence (data valuation by ablation)
# ---------------------------------------------------------------------------


@register(
    "pipeline_loso_source_influence",
    oracle="""
    WITH d AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS tc,
               len(list_distinct(string_split(text, ' '))) * 1.0 /
                   len(string_split(text, ' ')) AS q
        FROM documents
    ),
    per_src AS MATERIALIZED (
        SELECT source, CAST(COUNT(*) AS DOUBLE) AS n, SUM(q) AS sq,
               SUM(tc) AS toks
        FROM d GROUP BY source
    ),
    gtot AS (
        SELECT SUM(n) AS gn, SUM(sq) AS gsq FROM per_src
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(toks AS BIGINT) AS n_tokens,
           ROUND(gsq / gn, 6) AS global_mean_quality,
           ROUND((gsq - sq) / (gn - n), 6) AS loso_mean_quality,
           {infl} AS influence
    FROM per_src, gtot
    ORDER BY influence DESC, source
    """.replace(
        # a mean DIFFERENCE is sign-capable near zero (signed-zero class)
        "{infl}", spark_round_sql("gsq / gn - (gsq - sq) / (gn - n)", 6)
    ),
)
def pipeline_loso_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation: each source's INFLUENCE on the
    corpus-mean quality metric is the exact delta between the global mean
    and the mean with that source removed — computed for ALL sources from
    one pass of per-source sufficient statistics (global sums minus group
    sums), never by re-running the metric |sources| times. Positive
    influence = the source pulls corpus quality UP; the ranking is the
    first-order answer to "which source should we cut / expand".

    Scale shape: one groupBy(source) over the corpus, a 1-row global sum,
    and |sources|-row arithmetic — the O(1)-per-ablation trick works for
    any sum-decomposable metric (means, rates, token shares), which is why
    LOSO-by-sufficient-statistics is THE scalable first pass before
    expensive Shapley-style valuation."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split("text", " ")).cast("double").alias("tc"),
        (
            F.size(F.array_distinct(F.split("text", " ")))
            / F.size(F.split("text", " "))
        ).alias("q"),
    )
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("tc").alias("toks"),
    )
    glob = per_src.agg(F.sum("n").alias("gn"), F.sum("sq").alias("gsq"))
    # a source that IS the whole corpus (sparse-world fuzz: 2 docs, 1
    # source) leaves gn-n = 0: DuckDB division by zero yields NULL, Spark
    # ANSI raises — guard to the shared NULL contract (removing everything
    # leaves no mean to compare against)
    loso = F.when(
        F.col("gn") - F.col("n") > 0,
        (F.col("gsq") - F.col("sq")) / (F.col("gn") - F.col("n")),
    )
    return (
        per_src.crossJoin(F.broadcast(glob))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("toks").cast("bigint").alias("n_tokens"),
            F.round(F.col("gsq") / F.col("gn"), 6).alias("global_mean_quality"),
            F.round(loso, 6).alias("loso_mean_quality"),
            F.round(F.col("gsq") / F.col("gn") - loso, 6).alias("influence"),
        )
        .transform(sort_result, F.col("influence").desc(), "source")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language
# ---------------------------------------------------------------------------

_BPEISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "text_tokenizer_fertility_by_lang",
    oracle=f"""
    WITH d AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
               CAST(len(regexp_extract_all(text, '{_BPEISH}')) AS DOUBLE)
                   AS subtoks,
               CAST(len(replace(text, ' ', '')) AS DOUBLE) AS chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(subtoks) / SUM(words), 6) AS fertility,
           ROUND(SUM(chars) / SUM(subtoks), 6) AS chars_per_token,
           ROUND(AVG(subtoks / words), 6) AS mean_doc_fertility
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def text_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: sub-tokens produced per whitespace word
    (and characters per sub-token) for each language, under the repo's
    BPE-ish regex tokenizer — THE metric for how much more compute a
    language costs per word and the first thing checked when a tokenizer
    is suspected of fragmenting a script (fertility ≫ 1 → undertrained
    vocabulary for that language). Corpus-level fertility (ratio of sums)
    and mean per-doc fertility are both reported — they diverge exactly
    when long docs tokenize differently from short ones.

    Scale shape: pure map-side expression work (two regex/split counts per
    doc) into a |langs|-row aggregate; one pass, no Python, no shuffle
    beyond the group-by."""
    words = F.size(F.split("text", " ")).cast("double")
    subtoks = F.size(F.regexp_extract_all("text", F.lit(_BPEISH), F.lit(0))).cast("double")
    chars = F.length(F.regexp_replace("text", " ", "")).cast("double")
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        words.alias("words"),
        subtoks.alias("subtoks"),
        chars.alias("chars"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("subtoks") / F.sum("words"), 6).alias("fertility"),
            F.round(F.sum("chars") / F.sum("subtoks"), 6).alias(
                "chars_per_token"
            ),
            F.round(F.avg(F.col("subtoks") / F.col("words")), 6).alias(
                "mean_doc_fertility"
            ),
        )
        .transform(sort_result, "lang")
    )


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution
# ---------------------------------------------------------------------------

_DECAY_HALF_LIFE_MIN = 10.0
_DECAY_WINDOW_MIN = 30


@register(
    "events_time_decay_attribution",
    oracle=f"""
    WITH purch AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type <> 'purchase'
    ),
    pairs AS (
        SELECT p.event_id AS purchase_id, p.value, t.event_type,
               POW(0.5, date_diff('microsecond', t.ts, p.ts)
                        / (60000000.0 * {_DECAY_HALF_LIFE_MIN})) AS w
        FROM purch p
        JOIN touch t
          ON t.user_id = p.user_id
         AND t.ts <= p.ts
         AND t.ts >= p.ts - INTERVAL '{_DECAY_WINDOW_MIN} minutes'
    ),
    normed AS (
        SELECT purchase_id, value, event_type,
               w / CAST(SUM(CAST(w AS DECIMAL(28, 12)))
                        OVER (PARTITION BY purchase_id) AS DOUBLE) AS share
        FROM pairs
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           {exact_round_sum_sql("value * share", 4)} AS attributed_revenue
    FROM normed GROUP BY event_type ORDER BY event_type
    """,
)
def events_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: purchases split their value over
    the preceding {_DECAY_WINDOW_MIN}-minute touches with exponentially
    decaying credit (half-life {_DECAY_HALF_LIFE_MIN} min, normalized per
    purchase) — recency-weighted where ``events_linear_attribution`` splits
    equally; the two bracket the position-based models marketers argue
    about. Weights use exact microsecond gaps so both engines see identical
    exponents.

    Scale shape: identical to the linear sibling — the purchase↔touch
    interval join runs through :func:`band_join_bucketed` on a (user,
    {_DECAY_WINDOW_MIN}-min bucket) key, so a hot user's pair enumeration
    is bounded by per-bucket density instead of |purch_u|×|touch_u|; the
    per-purchase normalization is a purchase-keyed window, and the rollup
    is |types| rows. Nothing new shuffles."""
    from pyspark.sql import Window

    from cobalt_duckdb_spark.operators.joins import (
        band_join_bucketed,
        minute_bucket_fn,
    )

    e = load_table(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts"), "value"
    )
    touch = e.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", F.col("ts").alias("tts")
    )
    # ts is TIMESTAMP_NTZ — unix_micros wants LTZ; NTZ-safe timestampdiff
    gap_us = F.expr("timestampdiff(MICROSECOND, tts, pts)").cast("double")
    pairs = (
        band_join_bucketed(
            purch,
            touch,
            "user_id",
            "pts",
            "tts",
            band_lo=lambda t: t - F.expr(f"INTERVAL {_DECAY_WINDOW_MIN} MINUTES"),
            band_hi=lambda t: t,
            bucket_fn=minute_bucket_fn(_DECAY_WINDOW_MIN),
        )
        .select(
            "purchase_id",
            "value",
            "event_type",
            F.pow(
                F.lit(0.5), gap_us / (60000000.0 * _DECAY_HALF_LIFE_MIN)
            ).alias("w"),
        )
    )
    # Exact-decimal normalizer: the per-purchase SUM(w) is summed on the
    # 1e-12 lattice so `share` is the division of two bit-identical doubles
    # on every engine and partitioning; the final revenue rollup then snaps
    # value*share once and sums exactly (functions/exact.py discipline).
    share = F.col("w") / F.sum(F.col("w").cast("decimal(28,12)")).over(
        Window.partitionBy("purchase_id")
    ).cast("double")
    return (
        pairs.select("purchase_id", "value", "event_type", share.alias("share"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.countDistinct("purchase_id").cast("bigint").alias("n_purchases"),
            exact_round_sum(F.col("value") * F.col("share"), 4).alias(
                "attributed_revenue"
            ),
        )
        .transform(sort_result, "event_type")
    )


# ---------------------------------------------------------------------------
# SQL API: GROUP BY ALL / ORDER BY ALL parity
# ---------------------------------------------------------------------------


@register(
    "sql_api_group_by_all",
    oracle="""
    SELECT o_orderpriority,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_value
    FROM orders
    WHERE o_orderdate >= DATE '1998-06-01'
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_api_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL — the analyst-ergonomics SQL surface
    both Spark 4 and DuckDB ship: every non-aggregate select item groups
    implicitly, and ORDER BY ALL sorts by the full select list left to
    right. The Spark side runs the IDENTICAL text through ``spark.sql`` on
    a registered view — this query pins that the two engines resolve the
    implicit forms the same way (grouping keys inferred in select order;
    ORDER BY ALL covering aggregates too).

    Scale shape: a filtered scan (predicate pushed to parquet) into a
    2-key hash aggregate; nothing novel — the point is dialect parity."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gba")
    return spark.sql(
        """
        SELECT /*+ REPARTITION(1) */ o_orderpriority,
               o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_value
        FROM orders_gba
        WHERE o_orderdate >= DATE '1998-06-01'
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# Group-holdout leakage audit
# ---------------------------------------------------------------------------


@register(
    "sample_group_holdout_leakage_audit",
    oracle="""
    WITH e AS MATERIALIZED (
        SELECT event_id, user_id,
               ('0x' || substr(md5('grp:' || CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 < 80 AS grp_train,
               ('0x' || substr(md5('row:' || CAST(event_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 < 80 AS row_train
        FROM events
    ),
    grp_leak AS (
        SELECT user_id FROM e GROUP BY user_id
        HAVING COUNT(DISTINCT grp_train) > 1
    ),
    row_leak AS (
        SELECT user_id FROM e GROUP BY user_id
        HAVING COUNT(DISTINCT row_train) > 1
    ),
    u AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users FROM e)
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_rows,
           CAST((SELECT n_users FROM u) AS BIGINT) AS n_users,
           CAST((SELECT COUNT(*) FROM grp_leak) AS BIGINT)
               AS users_leaked_group_split,
           CAST((SELECT COUNT(*) FROM row_leak) AS BIGINT)
               AS users_leaked_row_split,
           ROUND((SELECT COUNT(*) FROM row_leak) / (SELECT n_users FROM u), 6)
               AS row_split_leak_rate,
           CAST(SUM(CASE WHEN grp_train THEN 1 ELSE 0 END) AS BIGINT)
               AS group_train_rows
    FROM e
    """,
)
def sample_group_holdout_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test hygiene audit: split events 80/20 two ways — GROUP-wise
    (salted hash of user_id: every row of a user lands on one side, the
    correct split when rows within a user are correlated) and naive
    ROW-wise (hash of event_id) — and count users with rows on BOTH sides.
    The group split must leak exactly 0 users BY CONSTRUCTION; the row
    split's leak rate shows how badly per-row splitting contaminates
    evaluation for any multi-row entity. Derandomized md5 splits make the
    audit replayable on both engines.

    Scale shape: split assignment is map-side md5 math; both leak checks
    are one user-keyed aggregate (COUNT(DISTINCT side) over a 2-value
    domain); summary is 1 row. One shuffle on user_id total."""
    from cobalt_duckdb_spark.operators.dedup import token_hash

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (
            token_hash(F.concat(F.lit("grp:"), F.col("user_id").cast("string")))
            % 100
            < 80
        ).alias("grp_train"),
        (
            token_hash(F.concat(F.lit("row:"), F.col("event_id").cast("string")))
            % 100
            < 80
        ).alias("row_train"),
    ).localCheckpoint(eager=False)
    per_user = e.groupBy("user_id").agg(
        F.countDistinct("grp_train").alias("g_sides"),
        F.countDistinct("row_train").alias("r_sides"),
    )
    leaks = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n_users"),
        F.sum(F.when(F.col("g_sides") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("users_leaked_group_split"),
        F.sum(F.when(F.col("r_sides") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("users_leaked_row_split"),
    )
    totals = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("grp_train"), 1).otherwise(0))
        .cast("bigint")
        .alias("group_train_rows"),
    )
    return totals.crossJoin(F.broadcast(leaks)).select(
        "n_rows",
        F.col("n_users").cast("bigint").alias("n_users"),
        "users_leaked_group_split",
        "users_leaked_row_split",
        F.round(F.col("users_leaked_row_split") / F.col("n_users"), 6).alias(
            "row_split_leak_rate"
        ),
        "group_train_rows",
    )


# ---------------------------------------------------------------------------
# Label-centroid alignment matrix (contrastive-training diagnostic)
# ---------------------------------------------------------------------------


@register(
    "embedding_label_alignment_matrix",
    oracle="""
    WITH dims AS (
        SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM (SELECT label, embedding,
                     unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)
    ),
    cdim AS MATERIALIZED (
        SELECT label, i, AVG(x) AS c FROM dims GROUP BY label, i
    ),
    cent AS MATERIALIZED (
        SELECT label, list(c ORDER BY i) AS cv FROM cdim GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           {cos} AS centroid_cosine
    FROM cent a JOIN cent b ON a.label <= b.label
    ORDER BY label_a, label_b
    """.replace(
        # cross-label cosines are sign-capable near zero (signed-zero class)
        "{cos}", spark_round_sql("list_cosine_similarity(a.cv, b.cv)", 6)
    ),
)
def embedding_label_alignment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-geometry diagnostic: cosine similarity between LABEL CENTROIDS
    for every label pair (upper triangle incl. diagonal) — high off-diagonal
    entries mark class pairs an embedding model confuses, the matrix
    contrastive-training teams read before mining hard negatives between
    specific classes (and the compact summary behind
    ``train_triplet_margin_audit``'s per-label margins).

    Scale shape: centroids come from ONE (label, dim)-keyed aggregate
    (|labels|·dim groups — tiny); the pairwise matrix is a self-join of the
    |labels|-row centroid frame. The corpus is touched once; the quadratic
    part is labels², never vectors²."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("packed"))
        .select("label", F.col("packed.c").alias("cv"))
        .localCheckpoint(eager=False)
    )
    from cobalt_duckdb_spark.functions.vector import cosine_similarity

    a = cent.select(F.col("label").alias("label_a"), F.col("cv").alias("cva"))
    b = cent.select(F.col("label").alias("label_b"), F.col("cv").alias("cvb"))
    return (
        a.join(F.broadcast(b), F.col("label_a") <= F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine_similarity("cva", "cvb"), 6).alias("centroid_cosine"),
        )
        .transform(sort_result, "label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# Bayesian A/B conversion test (Beta-Binomial, portable erf)
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26 erf constants (|error| < 1.5e-7) — same
# literals as stats_benjamini_hochberg_fdr so both engines evaluate the
# identical polynomial.
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_SQRT2_ = 1.4142135623730951
_Z975 = 1.959963984540054


@register(
    "stats_bayes_ab_conversion",
    oracle=f"""
    WITH conv AS (
        SELECT user_id, user_id % 2 AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
        FROM events GROUP BY user_id
    ),
    arms AS MATERIALIZED (
        SELECT arm, COUNT(*) * 1.0 AS n, SUM(c) * 1.0 AS x FROM conv
        GROUP BY arm
    ),
    post AS MATERIALIZED (
        SELECT arm, n, x,
               (1 + x) / (2 + n) AS mu,
               (1 + x) * (1 + n - x) / (POW(2 + n, 2) * (3 + n)) AS v
        FROM arms
    ),
    duo AS MATERIALIZED (
        SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b,
               a.mu AS mu_a, b.mu AS mu_b,
               b.mu - a.mu AS uplift, SQRT(a.v + b.v) AS se
        FROM post a, post b WHERE a.arm = 0 AND b.arm = 1
    ),
    z AS (
        SELECT *, uplift / se AS zval,
               ABS(uplift / se) / {_SQRT2_} AS xx,
               1.0 / (1.0 + 0.3275911 * ABS(uplift / se) / {_SQRT2_}) AS t
        FROM duo
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS conv_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS conv_b,
           ROUND(mu_a, 6) AS post_mean_a,
           ROUND(mu_b, 6) AS post_mean_b,
           {spark_round_sql("uplift", 6)} AS uplift,
           {spark_round_sql(f"uplift - {_Z975} * se", 6)} AS ci95_lo,
           {spark_round_sql(f"uplift + {_Z975} * se", 6)} AS ci95_hi,
           ROUND(0.5 * (1 + (CASE WHEN zval >= 0 THEN 1 ELSE -1 END)
                 * (1 - (((({_ERF_A[4]} * t + {_ERF_A[3]}) * t + {_ERF_A[2]})
                          * t + {_ERF_A[1]}) * t + {_ERF_A[0]}) * t
                       * EXP(-xx * xx))), 6) AS prob_b_beats_a
    FROM z
    """,
)
def stats_bayes_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B reading of a conversion experiment: users split into
    arms by id parity, conversion = any purchase; each arm gets a
    Beta(1+x, 1+n−x) posterior (uniform prior) and the report gives the
    posterior means, the uplift with a 95% credible interval, and
    P(B beats A) under the normal approximation of the posterior
    difference, with Φ built from the Abramowitz–Stegun erf polynomial —
    identical literals on both engines, the same trick the BH-FDR query
    uses. This is the decision-ready companion to the frequentist
    ``stats_ab_test_welch``: "what's the probability B is actually
    better", not just a p-value. An A/A-like split (id parity) should show
    prob ≈ uninformative, which is the calibration reading.

    Scale shape: one user-keyed aggregate (conversion flags), a 2-row arm
    aggregate, then scalar math on a 1-row frame. One shuffle."""
    e = load_table(spark, sf_dir, "events")
    conv = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("c")
        )
        .select((F.col("user_id") % 2).alias("arm"), "c")
    )
    arms = conv.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("c").cast("double").alias("x"),
    )
    post = arms.select(
        "arm",
        "n",
        "x",
        ((1 + F.col("x")) / (2 + F.col("n"))).alias("mu"),
        (
            (1 + F.col("x"))
            * (1 + F.col("n") - F.col("x"))
            / (F.pow(2 + F.col("n"), 2) * (3 + F.col("n")))
        ).alias("v"),
    )
    a = post.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a"),
        F.col("mu").alias("mu_a"), F.col("v").alias("v_a"),
    )
    b = post.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b"),
        F.col("mu").alias("mu_b"), F.col("v").alias("v_b"),
    )
    duo = a.crossJoin(F.broadcast(b)).select(
        "*",
        (F.col("mu_b") - F.col("mu_a")).alias("uplift"),
        F.sqrt(F.col("v_a") + F.col("v_b")).alias("se"),
    )
    zval = F.col("uplift") / F.col("se")
    xx = F.abs(zval) / _SQRT2_
    t = 1.0 / (1.0 + 0.3275911 * F.abs(zval) / _SQRT2_)
    erf = 1 - (
        (((_ERF_A[4] * t + _ERF_A[3]) * t + _ERF_A[2]) * t + _ERF_A[1]) * t
        + _ERF_A[0]
    ) * t * F.exp(-xx * xx)
    prob = 0.5 * (1 + F.when(zval >= 0, 1.0).otherwise(-1.0) * erf)
    return duo.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("x_a").cast("bigint").alias("conv_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("x_b").cast("bigint").alias("conv_b"),
        F.round("mu_a", 6).alias("post_mean_a"),
        F.round("mu_b", 6).alias("post_mean_b"),
        F.round("uplift", 6).alias("uplift"),
        F.round(F.col("uplift") - _Z975 * F.col("se"), 6).alias("ci95_lo"),
        F.round(F.col("uplift") + _Z975 * F.col("se"), 6).alias("ci95_hi"),
        F.round(prob, 6).alias("prob_b_beats_a"),
    )


# ---------------------------------------------------------------------------
# Rocchio relevance-feedback retrieval
# ---------------------------------------------------------------------------

_ROCCHIO_ALPHA, _ROCCHIO_BETA, _ROCCHIO_GAMMA = 1.0, 0.75, 0.15
_ROCCHIO_FB = 20  # feedback pool size per side
_ROCCHIO_K = 10


@register(
    "simsearch_rocchio_feedback_topk",
    oracle=f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS MATERIALIZED (
        /* round to 6 dp BEFORE the pool-selection ORDER BYs (repo
           convention, cf. the multiprobe truth CTE): a cross-engine ulp at
           a pool boundary would swap a feedback doc and shift q1 */
        SELECT vec_id, v,
               ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS s
        FROM e
    ),
    rel AS MATERIALIZED (
        SELECT vec_id, v FROM scored ORDER BY s DESC, vec_id LIMIT {_ROCCHIO_FB}
    ),
    nrel AS MATERIALIZED (
        SELECT vec_id, v FROM scored ORDER BY s ASC, vec_id LIMIT {_ROCCHIO_FB}
    ),
    rdim AS (
        SELECT i, AVG(v[i]) AS c
        FROM (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM rel)
        GROUP BY i
    ),
    rcent AS MATERIALIZED (SELECT list(c ORDER BY i) AS rc FROM rdim),
    ndim AS (
        SELECT i, AVG(v[i]) AS c
        FROM (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM nrel)
        GROUP BY i
    ),
    ncent AS MATERIALIZED (SELECT list(c ORDER BY i) AS nc FROM ndim),
    q1 AS MATERIALIZED (
        SELECT list_transform(
                   list_zip((SELECT qv FROM q), (SELECT rc FROM rcent),
                            (SELECT nc FROM ncent)),
                   p -> {_ROCCHIO_ALPHA} * p[1] + {_ROCCHIO_BETA} * p[2]
                        - {_ROCCHIO_GAMMA} * p[3]) AS qv1
    ),
    orig AS MATERIALIZED (
        SELECT vec_id FROM scored ORDER BY s DESC, vec_id LIMIT {_ROCCHIO_K}
    ),
    re AS (
        /* EXISTS guard: with the anchor id absent (degenerate input), the
           Spark side's broadcast of the empty query frame yields an empty
           result; without the guard this CTE would rank NULL similarities
           (and q1's zip over a NULL qv errors). Redraw-fuzz contract. */
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(e.v, (SELECT qv1 FROM q1)), 6)
                   AS cos_refined
        FROM e WHERE EXISTS (SELECT 1 FROM q)
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos_refined DESC, vec_id)
                AS BIGINT) AS rank,
           vec_id, cos_refined,
           CAST(CASE WHEN vec_id IN (SELECT vec_id FROM orig)
                     THEN 1 ELSE 0 END AS BIGINT) AS was_in_original
    FROM re
    ORDER BY cos_refined DESC, vec_id
    LIMIT {_ROCCHIO_K}
    """,
)
def simsearch_rocchio_feedback_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback on the DENSE leg: move the query
    vector toward the centroid of its top-{_ROCCHIO_FB} neighbors and away
    from the bottom-{_ROCCHIO_FB} (q₁ = αq + β·rel_centroid −
    γ·nonrel_centroid, the classic SMART weights 1.0/0.75/0.15), re-search,
    and mark which of the refined top-{_ROCCHIO_K} were already in the
    original top-{_ROCCHIO_K} — the vector-side sibling of
    ``text_bm25_prf_expansion``. Turnover in ``was_in_original`` is the
    signal feedback actually moved the query.

    Scale shape: two map-only scoring scans (original + refined) with
    TakeOrderedAndProject pools; centroids aggregate {_ROCCHIO_FB}-row
    frames; the refined query is a 1-row broadcast. Nothing quadratic,
    nothing collected."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    from cobalt_duckdb_spark.functions.vector import cosine_similarity

    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            # 6-dp round BEFORE pool selection, mirroring the oracle's
            # scored CTE (repo convention for rank-boundary stability).
            F.round(cosine_similarity("v", "qv"), 6).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    rel = scored.orderBy(F.col("s").desc(), "vec_id").limit(_ROCCHIO_FB)
    nrel = scored.orderBy(F.col("s").asc(), "vec_id").limit(_ROCCHIO_FB)

    def centroid(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.posexplode("v").alias("i", "x"))
            .groupBy("i")
            .agg(F.avg("x").alias("c"))
            .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("p"))
            .select(F.col("p.c").alias(name))
        )

    q1 = (
        q.crossJoin(F.broadcast(centroid(rel, "rc")))
        .crossJoin(F.broadcast(centroid(nrel, "nc")))
        .select(
            F.zip_with(
                F.zip_with(
                    "qv",
                    "rc",
                    lambda qq, rr: _ROCCHIO_ALPHA * qq + _ROCCHIO_BETA * rr,
                ),
                "nc",
                lambda acc, nn: acc - _ROCCHIO_GAMMA * nn,
            ).alias("qv1")
        )
    )
    orig = (
        scored.orderBy(F.col("s").desc(), "vec_id")
        .limit(_ROCCHIO_K)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    re_scored = (
        e.crossJoin(F.broadcast(q1))
        .select(
            "vec_id",
            F.round(cosine_similarity("v", "qv1"), 6).alias("cos_refined"),
        )
        .orderBy(F.col("cos_refined").desc(), "vec_id")
        .limit(_ROCCHIO_K)
    )
    from pyspark.sql import Window

    rnk = F.row_number().over(
        Window.orderBy(F.col("cos_refined").desc(), F.col("vec_id"))
    )
    return (
        re_scored.join(F.broadcast(orig), "vec_id", "left")
        .select(
            rnk.cast("bigint").alias("rank"),
            "vec_id",
            "cos_refined",
            F.coalesce("hit", F.lit(0)).cast("bigint").alias("was_in_original"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Multi-probe SRP-LSH recall curve
# ---------------------------------------------------------------------------

_MP_QUERIES = 8
_MP_K = 10


def _multiprobe_oracle() -> str:
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
    ),
    hp AS MATERIALIZED (
        SELECT j, i,
               ('0x' || substr(md5(j || ':' || i), 1, 8))::BIGINT
                   - 2147483648 AS w
        FROM range(0, 64) t(j) CROSS JOIN range(0, 64) u(i)
    ),
    dots AS (
        SELECT e.vec_id, hp.j,
               SUM(e.v[CAST(hp.i AS INT) + 1] * hp.w) AS dot
        FROM e CROSS JOIN hp
        GROUP BY e.vec_id, hp.j
    ),
    sig AS MATERIALIZED (
        SELECT vec_id,
               CAST(SUM(CASE WHEN j < 32 AND dot > 0
                             THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS hi,
               CAST(SUM(CASE WHEN j >= 32 AND dot > 0
                             THEN 1::BIGINT << (j - 32) ELSE 0 END)
                    AS BIGINT) AS lo
        FROM dots GROUP BY vec_id
    ),
    bands AS MATERIALIZED (
        SELECT vec_id, b AS band_id,
               CASE WHEN b < 4 THEN (hi >> CAST(8 * b AS INT)) & 255
                    ELSE (lo >> CAST(8 * (b - 4) AS INT)) & 255
               END AS bkey
        FROM sig CROSS JOIN range(0, 8) t(b)
    ),
    qprobes AS MATERIALIZED (
        SELECT vec_id AS qid, band_id,
               CASE WHEN p = 0 THEN bkey
                    ELSE xor(bkey, 1::BIGINT << CAST(p - 1 AS INT)) END
                   AS probe_key,
               CASE WHEN p = 0 THEN 0 ELSE 1 END AS depth
        FROM bands CROSS JOIN range(0, 9) t(p)
        WHERE vec_id < {_MP_QUERIES}
    ),
    cand AS MATERIALIZED (
        SELECT q.qid, c.vec_id, MIN(q.depth) AS depth
        FROM qprobes q
        JOIN bands c ON c.band_id = q.band_id AND c.bkey = q.probe_key
                     AND c.vec_id <> q.qid
        GROUP BY q.qid, c.vec_id
    ),
    truth AS MATERIALIZED (
        SELECT qid, vec_id FROM (
            SELECT q.vec_id AS qid, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_inner_product(q.v, c.v)
                                      / (q.nrm * c.nrm), 6) DESC, c.vec_id
                   ) AS rn
            FROM e q JOIN e c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < {_MP_QUERIES}
        ) WHERE rn <= {_MP_K}
    ),
    per_q AS (
        SELECT d.depth, q.qid,
               (SELECT COUNT(*) FROM cand c
                WHERE c.qid = q.qid AND c.depth <= d.depth) AS n_cand,
               (SELECT COUNT(*) FROM cand c JOIN truth t
                   ON t.qid = c.qid AND t.vec_id = c.vec_id
                WHERE c.qid = q.qid AND c.depth <= d.depth) AS n_hit
        FROM (SELECT DISTINCT vec_id AS qid FROM e
              WHERE vec_id < {_MP_QUERIES}) q
        CROSS JOIN (VALUES (0), (1)) d(depth)
    )
    SELECT CAST(depth AS INT) AS probe_depth,
           ROUND(AVG(n_cand), 4) AS mean_candidates,
           ROUND(AVG(n_hit * 1.0 / {_MP_K}), 6) AS mean_recall_at_{_MP_K}
    FROM per_q GROUP BY depth ORDER BY depth
    """


@register("simsearch_srp_multiprobe_recall", oracle=_multiprobe_oracle())
def simsearch_srp_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007, public VLDB) on the SRP index: each
    query probes its own band bucket (depth 0) AND the 8 buckets at Hamming
    distance 1 within each band (depth 1 — flip one of the 8 band bits),
    trading 9× bucket lookups for recall WITHOUT more hash tables or a
    bigger index — the standard memory-free recall lever. Reports the
    candidate count and exact recall@{_MP_K} at each probe depth for
    {_MP_QUERIES} query vectors; the depth-1 row strictly dominates
    depth-0's recall at ~9× the candidate cost, which is the curve an ANN
    operator tunes against its latency budget.

    Scale shape: signatures/bands come from the shared ``srp_bands``
    front end (map-only Arrow matmul, ids-only banding); query probes are a
    {_MP_QUERIES}×8×9-row broadcast joined against the banded corpus (one
    hash join, no scan fan-out); truth is the exact top-{_MP_K} for the 8
    queries (map-only scored scan + per-query TakeOrdered). Probing MORE
    buckets never rescans the corpus — the index is the only thing
    touched."""
    from cobalt_duckdb_spark.functions.vector import cosine_similarity
    from cobalt_duckdb_spark.operators.dedup import srp_bands

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bands = srp_bands(e).localCheckpoint(eager=False)
    probe = F.explode(F.sequence(F.lit(0), F.lit(8))).alias("p")
    qprobes = (
        bands.filter(F.col("vec_id") < _MP_QUERIES)
        .select(F.col("vec_id").alias("qid"), "band_id", "bkey", probe)
        .select(
            "qid",
            "band_id",
            F.when(F.col("p") == 0, F.col("bkey"))
            .otherwise(
                F.expr("bkey ^ shiftleft(CAST(1 AS BIGINT), CAST(p AS INT) - 1)")
            )
            .alias("probe_key"),
            F.when(F.col("p") == 0, 0).otherwise(1).alias("depth"),
        )
    )
    cand = (
        bands.join(
            F.broadcast(qprobes),
            (bands.band_id == qprobes.band_id)
            & (bands.bkey == qprobes.probe_key)
            & (bands.vec_id != qprobes.qid),
        )
        .groupBy("qid", "vec_id")
        .agg(F.min("depth").alias("depth"))
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window

    q = e.filter(F.col("vec_id") < _MP_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    rn = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    )
    truth = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine_similarity("v", "qv"), 6).alias("sim"),
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") <= _MP_K)
        .select("qid", "vec_id", F.lit(1).alias("is_true"))
    )
    depths = spark.range(2).select(F.col("id").cast("int").alias("probe_depth"))
    # spine of (query × depth) so a query with ZERO candidates at a depth
    # still contributes 0 to both means (the oracle enumerates all queries)
    spine = q.select("qid").crossJoin(F.broadcast(depths))
    hits = (
        cand.join(F.broadcast(depths), cand.depth <= depths.probe_depth)
        .join(truth, ["qid", "vec_id"], "left")
        .groupBy("probe_depth", "qid")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum(F.coalesce("is_true", F.lit(0))).alias("n_hit"),
        )
    )
    per_q = spine.join(hits, ["probe_depth", "qid"], "left").select(
        "probe_depth",
        "qid",
        F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
    )
    return (
        per_q.groupBy("probe_depth")
        .agg(
            F.round(F.avg("n_cand"), 4).alias("mean_candidates"),
            F.round(F.avg(F.col("n_hit") / _MP_K), 6).alias(
                f"mean_recall_at_{_MP_K}"
            ),
        )
        .transform(sort_result, "probe_depth")
    )
