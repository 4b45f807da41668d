"""Graph-analytics pack: centrality, structure and communities.

The event-graph queries (PageRank, personalized PageRank, SCC; HITS lives
in ``queries/selection.py``) work on the event-transition graph, whose
nodes are the handful of event types: the matrix is one row
(``functions/matrix.py``) and the iteration an ``aggregate`` over it inside
the query's own plan, so building one starts no Spark job. Graphs built
from the data (connected components, label propagation, textrank's word
graph) keep the distributed loops of ``operators/graph.py``.

Semantics are pinned as fixed-iteration computations so the DuckDB oracle
replays the identical recurrence — differential testing of an iterative
algorithm, which a run-to-convergence formulation would not allow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.exact import spark_round_sql
from cobalt_duckdb_spark.functions.matrix import (
    dense,
    iterate,
    let,
    per_label,
    product,
    vecmat,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators.graph import (
    label_propagation_oracle_cte,
    pagerank_oracle_cte,
    transition_counts,
)
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register

_PR_ITERS = 10
_PR_DAMPING = 0.85

_EDGES_CTE = """
edges AS (
    SELECT event_type AS src, next_type AS dst,
           COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS p
    FROM (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
)"""


def _pagerank(counts: DataFrame, seed: str | None = None) -> DataFrame:
    """``(node, rank)`` after ``_PR_ITERS`` damped power steps over the
    transition counts ``(i, j, n)``: r₀ = the restart vector t and
    rₜ₊₁ = (1−d)·t + d·rₜ·P, with P[i, j] = n / row total (unrounded, as
    the oracle's edges) and absent mass 0. Without ``seed`` t is uniform
    (classic PageRank); with it t is one-hot on ``seed`` (personalized
    PageRank), uniform again when ``seed`` is not a node (the oracle's
    ``rnorm`` fallback). Dangling mass is not redistributed."""
    pairs = counts.filter(F.col("j").isNotNull())
    m = dense(pairs.select(
        "i", "j", (F.col("n") / F.sum("n").over(Window.partitionBy("i"))).alias("p")
    ))
    labels, k, d = F.col("labels"), F.size("labels"), _PR_DAMPING
    n = k.cast("double")
    if seed is None:
        start = F.transform(labels, lambda _: F.lit(1.0) / n)
        teleport = F.transform(labels, lambda _: (1.0 - d) / n)
    else:
        known = F.array_contains(labels, seed)
        start = F.transform(labels, lambda li: F.when(~known, F.lit(1.0) / n)
                            .when(li == seed, 1.0).otherwise(0.0))
        teleport = F.transform(start, lambda r: (1.0 - d) * r)
    ranks = let(teleport, lambda t: iterate(start, _PR_ITERS, lambda r: F.zip_with(
        t, vecmat(r, F.col("cells"), k),
        lambda tp, mass: tp + d * F.coalesce(mass, F.lit(0.0)),
    )))
    return per_label(m, rank=ranks).withColumnRenamed("label", "node")


@register(
    "graph_pagerank_event_flow",
    oracle=f"""
    WITH pr AS (
        {pagerank_oracle_cte(_EDGES_CTE.strip(), _PR_ITERS, _PR_DAMPING)}
    )
    SELECT node AS event_type,
           ROUND(rank, 6) AS pagerank,
           CAST(row_number() OVER (ORDER BY rank DESC, node) AS BIGINT)
               AS centrality_rank
    FROM pr
    ORDER BY centrality_rank
    """,
)
def graph_pagerank_event_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the session-flow graph: nodes = event types,
    edge u→v weighted by P(next=v | current=u) from per-user sequences (the
    same first stage as ``events_transition_matrix``). The stationary-ish
    score says which state is most central to user journeys.

    Scale shape: edge extraction is ONE shuffle on user_id (sequence window)
    + a |types|² aggregate; the 10 power steps are an ``aggregate`` over the
    one-row matrix in the same plan (:func:`_pagerank`)."""
    pr = _pagerank(transition_counts(load_table(spark, sf_dir, "events")))
    return pr.select(
        F.col("node").alias("event_type"),
        F.round("rank", 6).alias("pagerank"),
        F.row_number()
        .over(Window.orderBy(F.col("rank").desc(), F.col("node")))
        .cast("bigint")
        .alias("centrality_rank"),
    ).orderBy("centrality_rank")


_TRI_MIN_W = 2  # co-order count for an edge to exist


@register(
    "graph_triangle_parts",
    oracle=f"""
    WITH pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
        SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= {_TRI_MIN_W}
    ),
    tris AS (
        SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        FROM edges e1
        JOIN edges e2 ON e1.pb = e2.pa
        JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    member AS (
        SELECT x AS partkey FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris
    )
    SELECT partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY partkey
    ORDER BY n_triangles DESC, partkey LIMIT 20
    """,
)
def graph_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts co-occurring
    in ≥2 orders are connected): parts by number of triangles they sit in —
    the classic cluster-cohesion / community-seed signal, and the third
    member of the iterative-graph family next to PageRank and connected
    components (this one is join-closed: exactly two self-joins, no loop).

    Scale shape: the textbook distributed-triangle plan — orient every edge
    low-id → high-id so each triangle is counted exactly ONCE as the wedge
    (a<b<c) closed by edge (a,c); the orientation also bounds the wedge join,
    since a node's out-degree under id-ordering ≲ √(2·|E|) for any skew
    (Ganz/Schank-Wagner bound). Edge building partial-aggregates map-side on
    (pa, pb); the wedge and closing joins shuffle on single part keys. At
    100 TB the edge list is the thing to persist bucketed by pa — both joins
    then co-locate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    # Pair generation as ONE shuffle (collect parts per order, expand the
    # sorted array map-side) instead of a self-join — the self-join shape
    # shuffles lineitem twice and sort-merges; this shuffles it once and
    # the per-order expansion is a narrow array op bounded by basket size.
    # Equal-pk duplicates inside an order drop at pa < pb, exactly like the
    # a.pk < b.pk join condition. Measured 2.2× on the edge build at sf0.1.
    arr = li.groupBy("ok").agg(F.array_sort(F.collect_list("pk")).alias("pks"))
    pairs = (
        arr.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("pks"),
                        lambda x, i: F.transform(
                            F.slice(F.col("pks"), i + 2, F.size("pks")),
                            lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .filter(F.col("pa") < F.col("pb"))
    )
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TRI_MIN_W)
        .select("pa", "pb")
        # localCheckpoint, NOT persist: the edge table is read 3× (wedge ×2 +
        # closing join) so it must be materialized once, but SQL-cache
        # entries live until explicit unpersist and would accumulate across
        # the driver's multi-query session. RDD-backed checkpoint blocks are
        # freed by the ContextCleaner when the plan is GC'd.
        .localCheckpoint(eager=False)
    )
    wedges = edges.alias("e1").join(
        edges.alias("e2"), F.col("e1.pb") == F.col("e2.pa")
    ).select(
        F.col("e1.pa").alias("x"), F.col("e1.pb").alias("y"), F.col("e2.pb").alias("z")
    )
    tris = wedges.join(
        edges.alias("e3"),
        (F.col("x") == F.col("e3.pa")) & (F.col("z") == F.col("e3.pb")),
    ).select("x", "y", "z")
    member = (
        tris.select(F.col("x").alias("partkey"))
        .unionAll(tris.select(F.col("y").alias("partkey")))
        .unionAll(tris.select(F.col("z").alias("partkey")))
    )
    return (
        member.groupBy("partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("partkey"))
        .limit(20)
    )


_LPA_ITERS = 3
_LPA_MIN_W = 2

_LPA_EDGES_CTE = f"""edges AS (
    SELECT pa AS a, pb AS b, COUNT(*) * 1.0 AS w
    FROM (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    )
    GROUP BY pa, pb HAVING COUNT(*) >= {_LPA_MIN_W}
)"""


@register(
    "graph_lpa_communities",
    oracle=f"""
    WITH {label_propagation_oracle_cte(_LPA_EDGES_CTE, _LPA_ITERS).replace(
        "SELECT node, label FROM lp" + str(_LPA_ITERS),
        ", final AS (SELECT node, label FROM lp" + str(_LPA_ITERS) + ")",
    )}
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM final
    GROUP BY label
    HAVING COUNT(*) >= 2
    ORDER BY n_nodes DESC, community
    """,
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label-propagation communities over the part co-purchase
    graph (edge weight = #orders containing both parts, kept at weight ≥ 2
    like the triangle query): 3 synchronous LPA rounds, then the community
    roster (size + id range) for every non-singleton community. Fills the
    community-detection slot of the graph family — connected components
    answers "what's reachable", LPA answers "what clusters densely" (a
    bridge edge joins components but rarely flips a community).

    Scale: edge build is the lineitem self-join within orders (meets only
    inside an order, basket-size bounded); each LPA round is one node-keyed
    join+agg+argmax window, all shuffles on the node key — the Pregel shape
    that runs unchanged on billion-edge graphs with periodic checkpoints."""
    from cobalt_duckdb_spark.operators.graph import label_propagation

    # spread=True: one-row-group scan; the orderkey self-join's map side
    # (600k-row build of basket pairs) otherwise runs on one core
    li = load_table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("x"), li.alias("y")
    pairs = a.join(
        b,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    ).select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    edges = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .filter(F.col("w") >= _LPA_MIN_W)
    )
    labels = label_propagation(edges, iters=_LPA_ITERS)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .filter(F.col("n_nodes") >= 2)
        .transform(sort_result, F.col("n_nodes").desc(), "community")
    )


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
    WITH pairs AS (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    edges AS MATERIALIZED (
        SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= {_LPA_MIN_W}
    ),
    adj AS MATERIALIZED (
        SELECT pa AS node, pb AS nb FROM edges
        UNION ALL SELECT pb, pa FROM edges
    ),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
    wedge AS (
        SELECT a.node AS u, b.node AS v, COUNT(*) AS common
        FROM adj a JOIN adj b ON a.nb = b.nb AND a.node < b.node
        GROUP BY a.node, b.node
    ),
    cand AS (
        SELECT w.u, w.v, w.common
        FROM wedge w
        LEFT JOIN edges e ON e.pa = w.u AND e.pb = w.v
        WHERE e.pa IS NULL
    )
    SELECT c.u AS part_a, c.v AS part_b,
           CAST(c.common AS BIGINT) AS common_neighbors,
           ROUND(c.common * 1.0 / (da.d + db.d - c.common), 6)
               AS neighbor_jaccard
    FROM cand c
    JOIN deg da ON da.node = c.u
    JOIN deg db ON db.node = c.v
    ORDER BY neighbor_jaccard DESC, part_a, part_b
    LIMIT 20
    """,
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: for NON-adjacent part
    pairs, score by neighbor-set Jaccard (common neighbors / union of
    neighborhoods) — the classic "you may also like" / missing-edge
    heuristic (Liben-Nowell & Kleinberg 2003). Top 20 predicted links.

    Plan: adjacency mirrored from the weight-≥2 edge set shared with the
    LPA/triangle queries; common-neighbor counts come from ONE wedge join
    (adj ⋈ adj on the shared neighbor, u < v dedup), existing edges drop
    out via a null-rejecting left join, degrees broadcast back. Wedge
    fan-out is the skew to watch at scale — cap or sample super-node
    neighborhoods (the √(2|E|) orientation bound from the triangle query
    applies the same way)."""
    # spread=True: one-row-group scan; the orderkey self-join's map side
    # (600k-row build of basket pairs) otherwise runs on one core
    li = load_table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    ).select(F.col("x.l_partkey").alias("pa"), F.col("y.l_partkey").alias("pb"))
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _LPA_MIN_W)
        .select("pa", "pb")
        .localCheckpoint(eager=False)
    )
    adj = edges.select(
        F.col("pa").alias("node"), F.col("pb").alias("nb")
    ).unionAll(edges.select(F.col("pb").alias("node"), F.col("pa").alias("nb")))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    wedge = (
        a.join(
            b,
            (F.col("a.nb") == F.col("b.nb"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedge.join(
        edges,
        (F.col("u") == F.col("pa")) & (F.col("v") == F.col("pb")),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("db"))
    return (
        cand.join(da, "u")
        .join(db, "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("common").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("common")
                / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("neighbor_jaccard"),
        )
        .orderBy(
            F.col("neighbor_jaccard").desc(), "part_a", "part_b"
        )
        .limit(20)
    )


_KCORE_K = 3
_KCORE_ROUNDS = 3


@register(
    "graph_kcore_peeling",
    oracle=f"""
    WITH pairs AS (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    e0 AS MATERIALIZED (
        SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= {_LPA_MIN_W}
    ),
    {','.join(f'''d{r} AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT pa AS node FROM e{r} UNION ALL SELECT pb FROM e{r}
        ) GROUP BY node
    ),
    keep{r} AS MATERIALIZED (
        SELECT node FROM d{r} WHERE deg >= {_KCORE_K}
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.pa, e.pb FROM e{r} e
        JOIN keep{r} ka ON ka.node = e.pa
        JOIN keep{r} kb ON kb.node = e.pb
    )''' for r in range(_KCORE_ROUNDS))}
    SELECT * FROM (
        {' UNION ALL '.join(
            f"SELECT {r} AS round, "
            f"CAST((SELECT COUNT(*) FROM (SELECT pa AS n FROM e{r} "
            f"UNION SELECT pb FROM e{r})) AS BIGINT) AS n_nodes, "
            f"CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) AS n_edges"
            for r in range(_KCORE_ROUNDS + 1)
        )}
    ) ORDER BY round
    """,
)
def graph_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition by synchronous peeling (k={_KCORE_K}): each
    round drops every node whose CURRENT degree is below k, inducing a
    smaller graph — the dense-backbone extraction that strips hangers-on
    before community/centrality analysis (and the fraud-ring screen: cores
    survive, stragglers don't). Three fixed peels over the part
    co-purchase graph with the per-round (nodes, edges) funnel — fixed
    iterations, synchronous drops, so the oracle replays it exactly
    (run-to-fixpoint is the production form; each peel IS this round).

    Scale: every round is a degree aggregate + two semi-join-shaped edge
    filters, all keyed on node id; edges materialize per round
    (localCheckpoint) exactly like the other Pregel-family loops."""
    # spread=True: one-row-group scan; the orderkey self-join's map side
    # (600k-row build of basket pairs) otherwise runs on one core
    li = load_table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("pa"), F.col("y.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _LPA_MIN_W)
        .select("pa", "pb")
        .localCheckpoint(eager=False)
    )

    rounds = [edges]
    for r in range(_KCORE_ROUNDS):
        e = rounds[-1]
        deg = (
            e.select(F.col("pa").alias("node"))
            .unionAll(e.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("node")
        nxt = (
            e.join(keep.withColumnRenamed("node", "pa"), "pa", "left_semi")
            .join(keep.withColumnRenamed("node", "pb"), "pb", "left_semi")
            .select("pa", "pb")
            .localCheckpoint(eager=False)
        )
        rounds.append(nxt)
    audits = []
    for r, e in enumerate(rounds):
        # n_nodes and n_edges in ONE aggregate over the endpoint union:
        # COUNT(*) of the union is exactly 2·|edges| (each edge contributes
        # both endpoints), so the separate edge-count agg — and its 1-row
        # crossJoin(broadcast(...)) build job per round — is redundant
        # (same job-latency finding as the PCA/HITS normalizers).
        audits.append(
            e.select(F.col("pa").alias("n"))
            .unionAll(e.select(F.col("pb").alias("n")))
            .agg(
                F.count_distinct(F.col("n")).cast("bigint").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
            )
            .select(
                F.lit(r).cast("bigint").alias("round"), "n_nodes", "n_edges"
            )
        )
    out = audits[0]
    for a in audits[1:]:
        out = out.unionAll(a)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Strongly connected components via reachability doubling
# ---------------------------------------------------------------------------

_SCC_TOP_EDGES = 6


@register(
    "graph_scc_mutual_reachability",
    oracle=f"""
    WITH RECURSIVE seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    pair_counts AS (
        SELECT event_type AS src, nxt AS dst, COUNT(*) AS n
        FROM seq WHERE nxt IS NOT NULL AND nxt <> event_type
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (ORDER BY n DESC, src, dst) AS r
            FROM pair_counts
        ) WHERE r <= {_SCC_TOP_EDGES}
    ),
    nodes AS (SELECT DISTINCT event_type AS v FROM events),
    reach(src, dst) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    mutual AS (
        SELECT a.src AS v, a.dst AS u
        FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
    ),
    scc AS (SELECT v, MIN(u) AS scc_id FROM mutual GROUP BY v)
    SELECT s.v AS event_type, s.scc_id,
           CAST(COUNT(*) OVER (PARTITION BY s.scc_id) AS BIGINT) AS scc_size
    FROM scc s ORDER BY event_type
    """,
)
def graph_scc_mutual_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the dominant event-flow graph:
    nodes are event types, edges the top-6 directed
    transition pairs by frequency (rank-pinned so both engines pick the
    identical sparse graph), and a node's SCC id is the minimum node that
    is reachable from it AND reaches it. Complements the undirected
    family (`dedup_connected_groups`, `graph_lpa_communities`) with the
    directed notion a funnel/flow analysis needs: {click, error, signup}
    collapsing into one recurrent component while purchase/view stay
    acyclic is exactly the loop-vs-exit structure of the journey graph.

    Spark computes the transitive closure by REACHABILITY DOUBLING on the
    one-row presence matrix — R ← R·R, present cells clamped to 1.0 — the
    same O(log diameter) strategy as the absorbing-chain series
    (`events_markov_absorption`): 3 rounds cover paths of length 8, and a
    simple path over 6 edges is at most 6 long. The oracle replays the
    identical closure as a recursive CTE. The user-sequence scan (one
    window shuffle on user_id) dominates at scale; the rest is
    vocabulary-sized algebra in the same plan, with no build job."""
    c = transition_counts(load_table(spark, sf_dir, "events"))
    edge = F.col("j").isNotNull() & (F.col("j") != F.col("i"))
    # |types|²-bounded frame: the single-partition rank window is fine
    rank = F.row_number().over(Window.orderBy(edge.desc(), F.desc("n"), "i", "j"))
    top = edge & (rank <= _SCC_TOP_EDGES)
    # R₀ = I ∪ E over EVERY event type, not only the edges' endpoints: a
    # (v, v) cell per type plus the top edges, none of which is a self-loop.
    # R is reflexive, so R·R ⊇ R and each round is one product.
    r0 = c.select("i", F.when(top, F.col("j")).alias("j")).select(
        "i", F.explode(F.array("i", "j")).alias("j")
    )
    m = dense(r0.distinct().withColumn("p", F.lit(1.0)))
    labels, k = F.col("labels"), F.size("labels")
    reach = iterate(F.col("cells"), 3, lambda r: F.transform(
        product(r, r, k), lambda x: F.when(x.isNotNull(), F.lit(1.0))
    ))
    # each node's SCC: the labels it reaches that reach it back
    scc = let(reach, lambda r: F.transform(labels, lambda _, a: F.filter(
        labels, lambda _, b: r[a * k + b].isNotNull() & r[b * k + a].isNotNull()
    )))
    return (
        per_label(m, scc=scc)
        .select(
            F.col("label").alias("event_type"),
            F.array_min("scc").alias("scc_id"),
            F.size("scc").cast("bigint").alias("scc_size"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (random walk with restart) from the error state
# ---------------------------------------------------------------------------


def _ppr_oracle() -> str:
    inner = pagerank_oracle_cte(
        _EDGES_CTE.strip(),
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        reset_cte="reset AS (SELECT 'error' AS node, 1.0 AS w)",
    )
    return f"""
    SELECT node AS event_type, ROUND(rank, 6) AS ppr
    FROM ({inner})
    ORDER BY ppr DESC, event_type
    """


@register("graph_personalized_pagerank_error", oracle=_ppr_oracle())
def graph_personalized_pagerank_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / random walk with restart, seeded at the
    'error' state: every teleport returns to 'error' instead of to the
    uniform vector, so the score measures proximity-to-failure along the
    observed transition flow — the graph-native 'which states orbit this
    one' query behind related-item panels, fraud-neighborhood scoring, and
    incident blast-radius ranking. Same fixed-iteration recurrence and
    helper as `graph_pagerank_event_flow` (the uniform special case), same
    unrolled-CTE oracle — personalization only swaps the restart vector.
    A corpus with no 'error' event restarts uniformly, as the oracle's
    ``rnorm`` fallback does."""
    ranks = _pagerank(
        transition_counts(load_table(spark, sf_dir, "events")), seed="error"
    )
    return (
        ranks.select(
            F.col("node").alias("event_type"), F.round("rank", 6).alias("ppr")
        )
        .orderBy(F.desc("ppr"), "event_type")
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-activity graph
# ---------------------------------------------------------------------------


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH ua AS (
        SELECT DISTINCT user_id, event_type,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM ua a JOIN ua b ON a.h = b.h AND a.event_type = b.event_type
                            AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u FROM edges UNION ALL SELECT v FROM edges
        ) t(u) GROUP BY u
    ),
    edge_deg AS (
        SELECT da.d AS dx, db.d AS dy
        FROM edges e JOIN deg da ON e.u = da.node
                     JOIN deg db ON e.v = db.node
    ),
    sym AS (SELECT dx, dy FROM edge_deg UNION ALL SELECT dy, dx FROM edge_deg),
    /* exact integer comoments (degrees are integers): Pearson r derives
       from (n, sx, sy, sxy, sxx, syy) through ONE identical IEEE chain on
       both engines — and the zero-variance graph (a single edge, a
       regular graph) is an explicit NULL instead of Spark corr's ANSI
       DIVIDE_BY_ZERO (sf0.1 sparse-world fuzz, r6). HUGEINT sums: the
       per-term product deg² fits int64 to degree 3e9; sums never wrap. */
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(dx AS HUGEINT)) AS sx,
               SUM(CAST(dy AS HUGEINT)) AS sy,
               SUM(CAST(dx * dy AS HUGEINT)) AS sxy,
               SUM(CAST(dx * dx AS HUGEINT)) AS sxx,
               SUM(CAST(dy * dy AS HUGEINT)) AS syy
        FROM sym
    )
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           {spark_round_sql(
               '''CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                       THEN CAST(n * sxy - sx * sy AS DOUBLE)
                            / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                               * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                  END''', 4
           )} AS degree_assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the purchase co-activity
    graph (users linked when they purchase in the same hour): Pearson
    correlation of endpoint degrees over the symmetrized edge list.
    Positive = hubs attach to hubs (social networks), negative = hub-and-
    spoke (infrastructure), ~0 = degree-neutral wiring — the one-number
    topology fingerprint that tells you whether degree-targeted
    interventions (hub removal, hub seeding) will cascade. Completes the
    structural family: triangles (local clustering), k-core (cohesion
    depth), LPA (communities), assortativity (mixing pattern).

    Plan: co-activity edges from an hour-bucketed self-join (per-bucket
    fan-out bounded by hourly actives — the blocking discipline of the
    dedup joins); degrees in one aggregate; the statistic is corr's
    mergeable moments over edge-degree pairs. Nothing is collected."""
    e = load_table(spark, sf_dir, "events")
    ua = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
        )
        .distinct()
    )
    a, b = ua.alias("a"), ua.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    edge_deg = edges.join(da, "u").join(db, "v").select("dx", "dy")
    sym = edge_deg.unionAll(
        edge_deg.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    # exact integer comoments: Pearson r from (n, sx, sy, sxy, sxx, syy)
    # through ONE identical IEEE chain on both engines (degrees are
    # integers; per-term deg² fits int64 to degree 3e9, sums widen to
    # DECIMAL(38,0)) — and the zero-variance graph (a single edge, a
    # regular graph) publishes NULL instead of F.corr's ANSI
    # DIVIDE_BY_ZERO raise (sf0.1 sparse-world fuzz, r6)
    dec = "decimal(38,0)"
    m = sym.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast(dec)).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast(dec)).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(dec)).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        cov.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("ne"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    return (
        m.select(F.round(r, 4).alias("degree_assortativity"))
        .crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_nodes))
        .select(
            F.col("ne").alias("n_edges"),
            F.col("nn").alias("n_nodes"),
            "degree_assortativity",
        )
    )
