"""Connected components over near-duplicate pair graphs (dedup-group
resolution — the step that turns pairwise similarity output into the
keep/drop decision a training pipeline actually executes).

Algorithm: iterative min-label propagation. Every vertex starts labeled with
its own id; each round every vertex takes the min of its label and its
neighbors' labels; fixpoint = each vertex labeled with its component's
minimum id (the canonical representative). Rounds needed = graph diameter —
for near-dup graphs that's tiny (pairs/triples), and each round is one
join + one aggregate, both shuffling on vertex id. The driver-side loop is
the standard Pregel-without-Pregel shape (GraphFrames does the same under
the hood); convergence is checked with a count, not by materializing
labels on the driver.

It also holds the event-transition graph's one edge extraction,
:func:`transition_counts`, shared by the Markov and event-graph queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def transition_counts(events: DataFrame) -> DataFrame:
    """Per-user transitions in (ts, event_id) order: one row per (i, j) =
    (event_type, next event_type) with ``n`` (bigint) occurrences, of which
    ``starts`` are a user's first event. j is NULL on a user's last event,
    so ``n`` summed over j counts every event of type i. One user_id window
    shuffle, then a |types|²-row aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("i"),
            F.lead("event_type").over(w).alias("j"),
            (F.row_number().over(w) == 1).alias("_first"),
        )
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if("_first").alias("starts"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iterations: int = 20,
) -> DataFrame:
    """(vertex, component) — component = min vertex id reachable. Only
    vertices appearing in ``edges`` are returned (isolated docs are their own
    trivial groups and need no resolution)."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # Iterative loops MUST truncate lineage: without it each round nests the
    # previous round's plan, and by ~10 iterations plan compilation alone
    # OOMs the JVM (observed on a 12-vertex path graph). localCheckpoint
    # materializes the round's labels and restarts the plan from there —
    # the standard Pregel-in-DataFrames survival move. Checkpoint sym FIRST
    # and derive labels from the checkpointed edges: the edge input is often
    # an expensive similarity-join pipeline, and the old labels-first order
    # evaluated that pipeline twice (measured 2× the LSH cost per run).
    sym = sym.localCheckpoint(eager=True)
    # Width gate (r10; same discipline as pagerank): the checkpoint already
    # ran, so the partition probe is free. Near-dup pair graphs are a few
    # hundred edges — narrowing the loop frames to ONE partition turns each
    # round's join+agg into a single task instead of 32-way shuffles of
    # tiny rows; a billion-edge graph keeps ≥cores partitions after AQE and
    # takes the distributed branch unchanged. Min-label propagation is
    # partition-layout independent (MIN is order-insensitive), so results
    # are identical either way.
    narrow = (
        sym.rdd.getNumPartitions()
        < sym.sparkSession.sparkContext.defaultParallelism
    )
    if narrow:
        sym = sym.coalesce(1)
    labels = sym.select(F.col("u").alias("vertex")).distinct().withColumn(
        "component", F.col("vertex")
    )
    if narrow:
        labels = labels.coalesce(1)
    labels = labels.localCheckpoint(eager=True)
    if narrow:
        labels = labels.coalesce(1)
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.v == labels.vertex)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.vertex == neighbor_min.u, "left")
            .select(
                "vertex",
                F.least(
                    "component", F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_component", F.col("component")) < F.col("component")).alias(
                    "_changed"
                ),
            )
        )
        if narrow:
            updated = updated.coalesce(1)
        updated = updated.localCheckpoint(eager=True)
        if narrow:
            updated = updated.coalesce(1)
        n_changed = updated.filter("_changed").count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        # a silent non-fixpoint would return WRONG components — refuse
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (graph diameter exceeds the bound); raise max_iterations"
        )
    return labels


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration power-method PageRank → (node, pagerank).

    Semantics are pinned as "exactly ``iterations`` power steps from the
    uniform vector" (not run-to-convergence): a deterministic computation both
    engines can replay bit-for-bit, which is what a differential oracle needs.
    rank₀(v) = 1/N;  rankₜ₊₁(v) = (1−d)/N + d·Σᵤ rankₜ(u)·w(u→v), with
    w(u→v) = the out-normalized edge weight. Dangling mass is NOT
    redistributed (documented; co-occurrence graphs have none).

    Scale shape — the standard Pregel-without-Pregel loop for a graph built
    from the data (``text_textrank_keywords``' word graph): each step is one
    join of the rank vector against the edge list (both hash-partitioned on
    the join key) plus one aggregate on dst. Nodes and edges stay
    distributed; nothing is collected, and the 10-step recurrence is one
    chained plan. Graphs over a fixed, tiny vocabulary (the event-transition
    graph) run as a one-row matrix instead (``functions/matrix.py``).

    The per-iteration frames (edge probabilities, node set, teleport base)
    are coalesced to ONE partition when the eagerly-checkpointed edge table
    is narrower than the session's cores: the probe is free (the blocks
    already exist, no job runs), AQE has already judged such a graph
    fixed-overhead-scale, and each loop step then runs as one task instead
    of a shuffle of ≤64 rows. At data scale the checkpoint keeps ≥cores
    partitions and the operator stays fully distributed.
    """
    w = F.col(weight) if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
    out_norm = e.groupBy("src").agg(F.sum("w").alias("wtot"))
    probs = (
        e.join(out_norm, "src")
        .select("src", "dst", (F.col("w") / F.col("wtot")).alias("p"))
    )
    # The edge-probability table is consumed by EVERY power step: materialize
    # it once (localCheckpoint) so the iteration plans start from a leaf
    # instead of re-nesting the extraction subtree 10×. The loop's remaining
    # per-step shuffles are ≤|nodes|-row AQE-coalesced exchanges; a
    # broadcast-hint variant that removed them entirely planned zero
    # Exchange nodes but measured SLOWER (each broadcast build is a blocking
    # driver job, 2 per power step), so tiny shuffles through AQE win over
    # driver-side builds.
    probs = probs.localCheckpoint(eager=True)
    # Post-checkpoint width probe — no job runs (the blocks exist, the
    # adaptive plan is final).
    narrow = (
        probs.rdd.getNumPartitions()
        < probs.sparkSession.sparkContext.defaultParallelism
    )
    if narrow:
        # the trailing .coalesce(1) re-narrows the checkpointed leaf
        # (localCheckpoint publishes UnknownPartitioning)
        probs = probs.coalesce(1)
    # Node set DERIVED FROM the checkpointed probs, not from e: every edge
    # row survives the out-norm join (its src group always exists), so
    # probs carries the identical (src, dst) universe — while deriving from
    # e would materialize the caller's whole edge-extraction pipeline a
    # second time.
    nodes = probs.select(F.col("src").alias("node")).unionByName(
        probs.select(F.col("dst").alias("node"))
    ).distinct()
    if narrow:
        nodes = nodes.coalesce(1)
    # N as a 1-row frame cross-joined in (broadcast, no driver round-trip);
    # per-node teleport (1−d)/N and start mass 1/N are materialized ONCE so
    # no power step re-plans the N aggregate. A narrowed node set keeps
    # base to one partition through the broadcast join.
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    base = nodes.crossJoin(F.broadcast(n_df)).select(
        "node",
        (F.lit(1.0) / F.col("n_nodes")).alias("rank0"),
        ((1.0 - damping) / F.col("n_nodes")).alias("tp"),
    ).localCheckpoint(eager=True)
    if narrow:
        base = base.coalesce(1)
    ranks = base.select("node", F.col("rank0").alias("rank"))
    # Plain shuffled joins each step, NOT broadcast hints: a broadcast build
    # is a separate driver-collect job, and paying two of those per power
    # step measures ~70% slower than letting the ≤|nodes|-row shuffles flow
    # through AQE (which coalesces them to single-task exchanges). On a
    # billion-node graph the same shuffled-join plan is exactly what
    # GraphX/Pregel runs, keyed on src/dst.
    for _ in range(iterations):
        contrib = (
            probs.join(ranks, probs.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("mass"))
        )
        ranks = (
            base.join(contrib, base.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.col("tp") + damping * F.coalesce("mass", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def pagerank_oracle_cte(
    edges_cte: str,
    iterations: int = 10,
    damping: float = 0.85,
    reset_cte: str | None = None,
) -> str:
    """DuckDB twin of :func:`pagerank`: the same recurrence unrolled as a
    chain of CTEs (r0 … rK). ``edges_cte`` must define ``edges(src, dst, p)``
    with out-normalized p. Returns SQL up to (and selecting from) ``r{K}``
    as ``(node, rank)`` — callers wrap it for projection/rounding.

    ``reset_cte`` (optional, personalized variant): a CTE body defining
    ``reset(node, w)`` with arbitrary non-negative weights, normalized over
    the in-graph nodes; r0 = the normalized reset vector and each step
    teleports (1−d) onto it (``graph_personalized_pagerank_error``)."""
    d = damping
    parts = [
        edges_cte,
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
    ]
    if reset_cte is not None:
        parts.append(reset_cte)
        # Degenerate resets are defined: duplicate node rows pre-sum, the
        # normalizer is the reset mass restricted to IN-GRAPH nodes, and a
        # non-positive in-graph mass degrades to the uniform restart
        # (sparse-world fuzz: the 'error' seed can be absent from a
        # filtered corpus — without the fallback the oracle returns
        # all-zero ranks while the query returns classic PageRank).
        parts.append(
            "rsum AS (SELECT node, SUM(w) AS w FROM reset GROUP BY node)"
        )
        parts.append(
            """rmass AS (
              SELECT SUM(rs.w) AS m
              FROM rsum rs JOIN nodes n ON n.node = rs.node)"""
        )
        parts.append(
            """rnorm AS (
              SELECT n.node,
                     CASE WHEN COALESCE((SELECT m FROM rmass), 0.0) > 0
                          THEN COALESCE(rs.w, 0.0) / (SELECT m FROM rmass)
                          ELSE 1.0 / (SELECT n FROM nn) END AS rw
              FROM nodes n LEFT JOIN rsum rs ON rs.node = n.node)"""
        )
        parts.append("r0 AS (SELECT node, rw AS rank FROM rnorm)")
        teleport = f"(1.0 - {d}) * n.rw"
        base = "rnorm n"
        group = "GROUP BY n.node, n.rw"
    else:
        parts.append(
            "r0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes)"
        )
        teleport = f"(1.0 - {d})/(SELECT n FROM nn)"
        base = "nodes n"
        group = "GROUP BY n.node"
    for k in range(1, iterations + 1):
        parts.append(
            f"""r{k} AS (
              SELECT n.node,
                     {teleport}
                     + {d} * COALESCE(SUM(r.rank * e.p), 0.0) AS rank
              FROM {base}
              LEFT JOIN edges e ON e.dst = n.node
              LEFT JOIN r{k - 1} r ON e.src = r.node
              {group})"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT node, rank FROM r{iterations}"
    )


def dedup_groups(pairs: DataFrame, src: str = "a_id", dst: str = "b_id") -> DataFrame:
    """Resolve near-dup pairs into groups: (doc_id, keeper_id, group_size),
    keeper = component minimum. Everything except keepers is the drop list.
    Unsorted, like ``dedup.minhash_lsh_pairs``."""
    comp = connected_components(pairs, src, dst)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size")
    )
    return (
        comp.join(sizes, "component")
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("keeper_id"),
            "group_size",
        )
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "a",
    dst: str = "b",
    w: str = "w",
) -> DataFrame:
    """Synchronous weighted label propagation (community detection),
    ``iters`` fixed rounds: every node starts as its own label; each round
    every node simultaneously adopts the label with the highest total
    neighbor edge weight (ties → smallest label). Fixed iteration count +
    synchronous update + min-tie-break make the result a pure function of
    the graph — replayable in SQL for differential testing, unlike
    run-to-convergence LPA whose answer depends on visit order.

    Input edges are one row per undirected edge (src < dst, weight); they
    are mirrored internally. Returns (node, label) after the last round.

    Scale shape: each round is one join (labels ⋈ edges on the node key) +
    one (node, label) aggregate + one per-node argmax window — all
    hash-partitioned on the node key, nothing on the driver. Rounds chain
    lazily; on billion-edge graphs insert ``localCheckpoint`` every few
    rounds exactly as :func:`connected_components` does."""
    # the edge list is consumed once per round (and often derives from an
    # expensive self-join) — materialize it, and truncate the label
    # lineage each round so round t doesn't re-derive rounds 1..t-1
    bidir = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(w).alias("wt")
        )
        .unionAll(
            edges.select(
                F.col(dst).alias("u"),
                F.col(src).alias("v"),
                F.col(w).alias("wt"),
            )
        )
        .localCheckpoint(eager=False)
    )
    labels = (
        bidir.select(F.col("u").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
    )
    for _ in range(iters):
        scored = (
            bidir.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.sum("wt").alias("s"))
        )
        rn = F.row_number().over(
            Window.partitionBy("node").orderBy(
                F.col("s").desc(), F.col("label").asc()
            )
        )
        labels = (
            scored.withColumn("rn", rn).filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
    return labels


def label_propagation_oracle_cte(edges_cte: str, iters: int = 3) -> str:
    """DuckDB CTE chain replaying label_propagation exactly. ``edges_cte``
    must define ``edges(a, b, w)`` with a < b."""
    parts = [
        edges_cte,
        """bidir AS (
            SELECT a AS u, b AS v, w AS wt FROM edges
            UNION ALL SELECT b, a, w FROM edges
        )""",
        """lp0 AS (
            SELECT DISTINCT u AS node, u AS label FROM bidir
        )""",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""lp{i} AS (
            SELECT node, label FROM (
                SELECT e.u AS node, l.label, SUM(e.wt) AS s,
                       row_number() OVER (
                           PARTITION BY e.u
                           ORDER BY SUM(e.wt) DESC, l.label ASC
                       ) AS rn
                FROM bidir e JOIN lp{i - 1} l ON l.node = e.v
                GROUP BY e.u, l.label
            ) WHERE rn = 1
        )""")
    return ",\n".join(parts) + f"\nSELECT node, label FROM lp{iters}"


def hour_scoped_assortativity(
    user_hours: DataFrame,
    user_col: str = "user_id",
    hour_col: str = "h",
) -> DataFrame:
    """Degree assortativity of the co-activity MULTIGRAPH, in closed form —
    the documented scale alternative to the exact simple-graph operator
    (``queries/graph_analytics.py::graph_degree_assortativity``), the way
    ``asof_join_bucketed`` sits next to ``asof_join`` (r7 verdict stretch 7).

    Semantics difference, stated up front: the exact operator dedups
    partners ACROSS hours (degree = |distinct co-active users|), which
    forces materializing the Θ(Σ_h a_h²) edge list. Here the graph is the
    hour-scoped multigraph — u–v appears once per shared hour, and
    degree(u) = Σ_{hours h ∋ u} (a_h − 1) (per-hour partner slots, no
    cross-hour dedup). On worlds where every user is active in at most one
    hour the two graphs coincide exactly (pinned by
    tests/test_graph_scale_ops.py); on dense worlds they are different,
    deliberately — this form exists because it never enumerates an edge:

    every Pearson moment over the symmetrized multigraph edge set has a
    per-hour closed form in (a_h, S1_h=Σ deg, S2_h=Σ deg²):

        n   = Σ a_h(a_h−1)            (ordered endpoint pairs)
        sx  = Σ (a_h−1)·S1_h          (= sy by symmetry)
        sxx = Σ (a_h−1)·S2_h          (= syy)
        sxy = Σ (S1_h² − S2_h)

    so the whole statistic is: one distinct, one hour count, one degree
    aggregate, one hour-level aggregate — all linear in |user-hours|, no
    pair join anywhere. At 100 TB this is the only admissible form when
    hourly actives are large; the exact operator remains for graphs whose
    cross-hour structure matters.

    Sums are exact DECIMAL(38,0); the final ratio folds the comoments in
    float64 (documented: n·sxx can pass 38 digits near |user-hours| ≥ 1e7,
    and r is a unit-interval statistic where 1-ulp comoment noise is
    irrelevant). Publishes NULL on zero-variance graphs (regular
    multigraph, single hour), mirroring the exact operator's contract.

    Input: ``user_hours`` with one row per DISTINCT (user, hour) of
    activity; the function re-distincts defensively (idempotent).
    """
    u, h = F.col(user_col), F.col(hour_col)
    ua = user_hours.select(u.alias("_u"), h.alias("_h")).distinct()
    sizes = ua.groupBy("_h").agg(F.count(F.lit(1)).alias("a_h"))
    # hours are a coarse key (|hours| ≪ |user-hours|) — broadcast the size
    # table so attaching a_h is map-side.
    uh = ua.join(F.broadcast(sizes), "_h")
    deg = uh.groupBy("_u").agg(
        F.sum(F.col("a_h") - F.lit(1)).alias("deg")
    )
    dec = "decimal(38,0)"
    x = uh.join(deg, "_u")
    per_h = x.groupBy("_h").agg(
        F.first("a_h").alias("a_h"),
        F.sum(F.col("deg").cast(dec)).alias("s1"),
        F.sum((F.col("deg").cast(dec) * F.col("deg").cast(dec))).alias("s2"),
    )
    ah = F.col("a_h").cast(dec)
    m = per_h.agg(
        F.sum(ah * (ah - 1)).alias("n"),
        F.sum((ah - 1) * F.col("s1")).alias("sx"),
        F.sum((ah - 1) * F.col("s2")).alias("sxx"),
        F.sum(F.col("s1") * F.col("s1") - F.col("s2")).alias("sxy"),
        F.sum(ah * (ah - 1)).cast("bigint").alias("n_multi_edges"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    vx = nd * F.col("sxx").cast("double") - sxd * sxd
    cov = nd * F.col("sxy").cast("double") - sxd * sxd
    r = F.when(vx > 0, cov / vx)
    return m.select(
        "n_multi_edges",
        "n_hours",
        F.round(r, 4).alias("degree_assortativity"),
    )
