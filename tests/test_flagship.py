"""Flagship KNN (SURVEY.md §2.11) — correctness + pinned edge semantics."""

import math

import pytest
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.vector import (
    cosine_distance,
    cosine_similarity,
    dot_product,
    l2_norm,
    l2_normalize,
)
from cobalt_duckdb_spark.io import load_table, EXPECTED_DDL, TABLE_NAMES
from cobalt_duckdb_spark.operators.knn import (
    _double_array_sql,
    knn_topk_batch,
    knn_topk_broadcast_query,
    knn_topk_statement,
    query_vector_of,
)
from cobalt_duckdb_spark.queries import QUERIES


def test_testdata_schemas_pinned(spark, sf_dir):
    from pyspark.sql.types import StructType

    for name in TABLE_NAMES:
        expected = StructType.fromDDL(EXPECTED_DDL[name])
        actual = load_table(spark, sf_dir, name).schema
        assert [f.name for f in actual] == [f.name for f in expected], name


def test_flagship_shape_and_order(spark, sf_dir):
    out = QUERIES["flagship_knn_cosine_topk"](spark, sf_dir).collect()
    assert len(out) == 10
    assert [r["rank"] for r in out] == list(range(1, 11))
    # query vector IS embedding 0 → self-match first at distance 0
    assert out[0]["doc_id"] == 0
    assert abs(out[0]["distance"]) < 1e-9
    dists = [r["distance"] for r in out]
    assert dists == sorted(dists)


def test_vector_functions_handchecked(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [0.0, 1.0]),   # orthogonal → sim 0, dist 1
            (2, [1.0, 2.0], [2.0, 4.0]),   # parallel → sim 1, dist 0
            (3, [0.0, 0.0], [1.0, 1.0]),   # zero vector → NULL
            (4, [1.0, 0.0], [-1.0, 0.0]),  # opposite → dist 2
        ],
        "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            dot_product("a", "b").alias("dot"),
            l2_norm("a").alias("na"),
            cosine_similarity("a", "b").alias("sim"),
            cosine_distance("a", "b").alias("dist"),
        ).collect()
    }
    assert rows[1]["dot"] == 0.0 and rows[1]["dist"] == 1.0
    assert abs(rows[2]["sim"] - 1.0) < 1e-12
    assert rows[3]["sim"] is None and rows[3]["dist"] is None
    assert abs(rows[4]["dist"] - 2.0) < 1e-12
    assert math.isclose(rows[2]["na"], math.sqrt(5.0))


def test_l2_normalize(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id INT, v ARRAY<DOUBLE>"
    )
    rows = {r["id"]: r["n"] for r in df.select("id", l2_normalize("v").alias("n")).collect()}
    assert [round(x, 12) for x in rows[1]] == [0.6, 0.8]
    assert rows[2] is None


def test_knn_ties_break_by_id_and_k_exceeds_n(spark):
    emb = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.0]), (12, [0.0, 1.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    docs = spark.createDataFrame(
        [(10, "a"), (11, "b"), (12, "c")], "doc_id BIGINT, text STRING"
    )
    query = spark.createDataFrame([([1.0, 0.0],)], "query_vec ARRAY<DOUBLE>")
    out = knn_topk_broadcast_query(emb, docs, query, k=99).collect()
    assert len(out) == 3  # k > N → all rows
    assert [r["doc_id"] for r in out] == [10, 11, 12]  # tie 10/11 broken by id


def test_knn_batch_matches_loop(spark, sf_dir):
    """All queries in one plan, four jobs at collect: the query-set
    broadcast, the shuffle into the per-query rank window, the shuffle into
    one partition and the final sort. The sort has no range-sampling job
    (ordering.sort_result); with a plain orderBy it ran five."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_topk_batch(emb, qs, k=5)
    rows = out.collect()
    assert len(rows) == 15
    for qid in (0, 1, 2):
        per = [r for r in rows if r["query_id"] == qid]
        assert [r["rank"] for r in per] == [1, 2, 3, 4, 5]
        assert per[0]["vec_id"] == qid  # self-match at rank 1
        assert abs(per[0]["distance"]) < 1e-6
    assert _jobs_and_stages(spark, knn_topk_batch(emb, qs, k=5))[0] == 4


def test_one_partition_result_sort_saves_the_sampling_job(spark, sf_dir):
    """events_mad_robust_outliers sorts its result with
    ordering.sort_result: 3 jobs at collect. Its plain global orderBy ran 4,
    the fourth a range-sampling job that computed both percentile windows
    a second time."""
    frame = QUERIES["events_mad_robust_outliers"](spark, sf_dir)
    assert _jobs_and_stages(spark, frame)[0] == 3


def test_query_vector_of_missing_raises(spark, sf_dir):
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(KeyError):
        query_vector_of(emb, 10**12)


def test_spark_search_client_reference_contract(spark, sf_dir):
    """Drop-in client parity with RuriDuckDBSearchClient: from_dataframe +
    search_top_n returns, per query, the dataset's own columns + score +
    0-based rank; a str query and a [str] query give identical results; a
    2-query list runs set-oriented and returns 2 frames."""
    from cobalt_duckdb_spark.client import SparkSearchClient
    from cobalt_duckdb_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    client = SparkSearchClient.from_dataframe(docs, "text", dim=16)

    [res] = client.search_top_n("key agg row scan", n=5)
    rows = res.collect()
    assert len(rows) == 5
    assert {"doc_id", "text", "lang", "score", "rank"} <= set(res.columns)
    assert [r["rank"] for r in rows] == [0, 1, 2, 3, 4]
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores)

    [res2] = client.search_top_n(["key agg row scan"], n=5)
    assert [r["doc_id"] for r in res2.collect()] == [r["doc_id"] for r in rows]

    both = client.search_top_n(["key agg row scan", "stream window join"], n=3)
    assert len(both) == 2
    assert all(len(b.collect()) == 3 for b in both)


@pytest.fixture(scope="module")
def search_client(spark, sf_dir):
    from cobalt_duckdb_spark.client import SparkSearchClient

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    client = SparkSearchClient.from_dataframe(docs, "text", dim=16)
    client.search_top_n("warm up", n=5)[0].collect()  # materializes the store
    return client


def _operators(plan):
    """Every operator of an executed plan, through adaptive execution and
    its query stages, but not into the plans that cached relations were
    built from: an ``InMemoryTableScan`` is a leaf here."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    return [plan] + [op for k in kids for op in _operators(k)]


def _cached_rdd_ids(df):
    """Ids of the persisted RDDs behind the cached relations ``df`` reads."""
    return {
        op.relation().cacheBuilder().cachedColumnBuffers().id()
        for op in _operators(df._jdf.queryExecution().executedPlan())
        if op.getClass().getSimpleName() == "InMemoryTableScanExec"
    }


def test_search_top_n_plan_runs_in_jvm(spark, search_client):
    """A request runs in the JVM alone: no Python worker (the query text is
    embedded on the driver and enters the plan as a literal), no new cached
    relation (the store and the id-stamped dataset read one and the same
    persisted frame), no range-partitioning sort, no nested-loop join
    against a query row, no per-row norm (``sqrt``: the store and the
    query are unit vectors), and no ``Window`` or ``Sort``: the rank is the
    row's position in the ``TakeOrderedAndProject`` output. A single
    request over the one-partition store runs exactly 1 job of 1 stage."""
    client = search_client
    stored = _cached_rdd_ids(client.store)
    assert len(stored) == 1
    assert _cached_rdd_ids(client.dataset) == stored
    for query in ("key agg row scan", ["key agg row scan", "stream window join"]):
        for frame in client.search_top_n(query, n=5):
            assert len(frame.collect()) == 5
            ops = _operators(frame._jdf.queryExecution().executedPlan())
            names = [op.nodeName() for op in ops]
            assert not [
                n
                for n in names
                if n in ("ArrowEvalPython", "BatchEvalPython") or "ExistingRDD" in n
            ], names
            assert _cached_rdd_ids(frame) <= stored
            assert "BroadcastNestedLoopJoin" not in names, names
            assert "TakeOrderedAndProject" in names, names
            assert not [n for n in names if n == "Sort" or n.startswith("Window")], names
            assert not [
                op.simpleString(10_000)
                for op in ops
                if "sqrt" in op.simpleString(10_000).lower()
            ]
            assert not [
                op
                for op in ops
                if op.getClass().getSimpleName() == "ShuffleExchangeExec"
                and op.outputPartitioning().getClass().getSimpleName()
                == "RangePartitioning"
            ]

    assert client._frame.rdd.getNumPartitions() == 1
    [frame] = client.search_top_n("key agg row scan", n=5)
    assert _jobs_and_stages(spark, frame) == (1, 1)


def _jobs_and_stages(spark, frame):
    """Collect ``frame`` in a job group of its own: the number of jobs it
    ran and the number of stages across them that ran a task (a stage
    skipped because its shuffle output already exists does not count)."""
    sc = spark.sparkContext
    group = f"jobs_of_{id(frame)}"
    sc.setJobGroup(group, "one single request")
    try:
        frame.collect()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = sum(
            tracker.getStageInfo(st).numCompletedTasks > 0
            for j in jobs
            for st in tracker.getJobInfo(j).stageIds
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(jobs), stages


def _brute_force_top_n(client, texts, n):
    """numpy float64 cosine top-n over the collected store, ties broken by
    ascending id (the rule of ``perfbench/verify.topk_ids``): doc ids and
    distances per text."""
    import numpy as np

    from cobalt_duckdb_spark.client import _ID
    from cobalt_duckdb_spark.functions.inference import QUERY_PREFIX

    doc_of = dict(client.dataset.select(_ID, "doc_id").collect())
    store = client.store.collect()
    ids = np.array([doc_of[r["vec_id"]] for r in store])
    vecs = np.array([r["embedding"] for r in store], dtype=np.float64)
    s = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    # the client's query vectors are float32, as the embedder returns them
    q = np.asarray(client._encode([QUERY_PREFIX + t for t in texts]), np.float32)
    q = q.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    out = []
    for d in 1.0 - q @ s.T:
        order = np.lexsort((ids, d))[:n]
        out.append((ids[order].tolist(), d[order].tolist()))
    return out


def _twin_corpus(spark, sf_dir):
    """The first 30 documents plus a twin of the first: a document
    with the same text under a larger id, so their scores tie exactly for
    every query and only the id orders them. Returns the corpus and the two
    ids."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.orderBy("doc_id").limit(30)
    [(first, text)] = docs.limit(1).collect()
    twin = first + 10**9
    corpus = docs.unionByName(spark.createDataFrame([(twin, text)], docs.schema))
    return corpus, first, twin


def _assert_matches_brute_force(client, texts, n, twin_pair=None):
    """Each of the client's top-n frames for ``texts`` equals the numpy
    brute force: ranks 0.. in row order, the same doc ids in the same
    order and the same scores. With ``twin_pair`` (first, twin), the tie is
    asserted to be inside the top n, the first id ranked just above its
    twin."""
    want = _brute_force_top_n(client, texts, n)
    for frame, (ids, dists) in zip(client.search_top_n(texts, n=n), want, strict=True):
        rows = frame.collect()
        assert [r["rank"] for r in rows] == list(range(len(ids)))
        assert [r["doc_id"] for r in rows] == ids
        for r, d in zip(rows, dists):
            assert abs(r["score"] - d) < 1e-12
        if twin_pair is not None:
            first, twin = twin_pair
            i = ids.index(first)
            assert ids[i + 1] == twin and dists[i] == dists[i + 1]
            assert rows[i]["score"] == rows[i + 1]["score"]


def test_search_top_n_matches_numpy_brute_force(spark, sf_dir):
    """The client's top-n ids equal a numpy float64 brute-force cosine top-n,
    ties broken by id, for several texts; two documents share one text, so
    their scores tie exactly and only the id orders them."""
    from cobalt_duckdb_spark.client import SparkSearchClient

    corpus, first, twin = _twin_corpus(spark, sf_dir)
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    client = SparkSearchClient.from_dataframe(corpus, "text", dim=16)

    texts = ["key agg row scan", "stream window join", "検索 クエリ 🚀"]
    _assert_matches_brute_force(client, texts, 5)
    # 31: the whole corpus, so the tie is inside
    _assert_matches_brute_force(client, texts, 31, twin_pair=(first, twin))
    # store and dataset are projections of one cached frame: close()
    # releases that frame, and nothing the client cached stays behind
    assert sc._jsc.getPersistentRDDs().size() == before + 1
    client.close()
    assert sc._jsc.getPersistentRDDs().size() == before


def test_search_top_n_positional_rank_over_partitions(spark, sf_dir):
    """The rank is the row's position in the top-n, also when the store
    spans several partitions and the per-partition top-n heaps merge
    through a single-partition shuffle: the rows equal the numpy brute
    force, the twin tie inside the top n included. ``n`` beyond the corpus
    returns the whole corpus, ranked; ``n = 0`` returns no row and the same
    columns and types."""
    from cobalt_duckdb_spark.client import SparkSearchClient

    corpus, first, twin = _twin_corpus(spark, sf_dir)
    # range partitions in doc_id order keep the client's ids in doc_id
    # order, the tie-break the brute force uses; first and twin land in
    # different partitions
    corpus = corpus.repartitionByRange(3, "doc_id").sortWithinPartitions("doc_id")
    client = SparkSearchClient.from_dataframe(corpus, "text", dim=16)
    try:
        assert client._frame.rdd.getNumPartitions() == 3
        texts = ["key agg row scan", "検索 クエリ 🚀"]
        _assert_matches_brute_force(client, texts, 31, twin_pair=(first, twin))
        _assert_matches_brute_force(client, texts, 40, twin_pair=(first, twin))
        [frame] = client.search_top_n(texts[0], n=31)
        # partial top-n per partition, then the merge: 1 job of 2 stages
        assert _jobs_and_stages(spark, frame) == (1, 2)

        [empty] = client.search_top_n(texts[0], n=0)
        assert empty.collect() == []
        assert empty.dtypes == frame.dtypes
    finally:
        client.close()


def test_search_top_n_zero_query_ranks_by_id(search_client, monkeypatch):
    """A zero query vector has no direction: every score is NULL and the n
    lowest ids win, in id order (what ``cosine_distance`` gives, with
    NULLs first)."""
    import numpy as np

    from cobalt_duckdb_spark.client import _ID

    client = search_client
    monkeypatch.setattr(
        client, "_encode", lambda texts: np.zeros((len(texts), 16), np.float32)
    )
    want = [
        r["doc_id"]
        for r in client.dataset.join(
            client.store.select(F.col("vec_id").alias(_ID)), _ID
        )
        .orderBy(_ID)
        .limit(4)
        .collect()
    ]
    [frame] = client.search_top_n("anything", n=4)
    rows = frame.collect()
    assert [r["rank"] for r in rows] == [0, 1, 2, 3]
    assert [r["score"] for r in rows] == [None] * 4
    assert [r["doc_id"] for r in rows] == want


def _bits(x):
    import struct

    return None if x is None else struct.pack("<d", x)


def test_double_array_literal_is_bit_exact(spark):
    """The query literal reads back as the very doubles it was made from:
    signed zero, the smallest subnormal, 1e-05 and both ends of the range."""
    import sys

    big = sys.float_info.max
    q = [-0.0, 0.0, 5e-324, -5e-324, 1e-05, big, -big, 0.1, -1 / 3]
    [(got,)] = spark.sql(f"SELECT {_double_array_sql(q)}").collect()
    assert [_bits(x) for x in got] == [_bits(x) for x in q]


def test_knn_topk_statement_score_matches_dot_product_fold(spark):
    """The statement's inline fold and ``functions/vector.dot_product``'s
    Column fold give the same score, bit for bit, against the same
    driver-normalized query (vectors with −0.0, a subnormal, 1e-05 and
    mixed signs)."""
    import numpy as np

    store = spark.createDataFrame(
        [
            (0, [0.6, -0.8, -0.0, 5e-324, 1e-05]),
            (1, [-0.0, 1e-05, -0.3, 0.25, 5e-324]),
            (2, [1e-05, -1e-05, 0.0, -0.0, 0.7]),
            (3, [-0.1, 0.2, -0.3, 0.4, -0.5]),
        ],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    store.createOrReplaceTempView("knn_statement_fold")
    vec = [0.3, -0.0, 5e-324, 1e-05, -0.7]
    q = np.asarray(vec) / np.linalg.norm(vec)
    want = {
        r["vec_id"]: r["score"]
        for r in store.select(
            "vec_id",
            (
                F.lit(1.0)
                - dot_product("embedding", F.array(*[F.lit(float(x)) for x in q]))
            ).alias("score"),
        ).collect()
    }
    rows = spark.sql(
        knn_topk_statement("knn_statement_fold", vec, 4, ["vec_id"])
    ).collect()
    assert [r["rank"] for r in rows] == [0, 1, 2, 3]
    assert sorted(r["vec_id"] for r in rows) == [0, 1, 2, 3]
    assert {r["vec_id"]: _bits(r["score"]) for r in rows} == {
        i: _bits(s) for i, s in want.items()
    }


def test_knn_topk_statement_zero_query_ranks_by_id(spark):
    """A zero-norm query scores every row NULL; the k lowest ids win in id
    order, and rows without a vector are never returned."""
    store = spark.createDataFrame(
        [(5, [1.0, 0.0]), (3, [0.0, 1.0]), (9, [1.0, 1.0]), (1, [-1.0, 0.0]), (0, None)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    store.createOrReplaceTempView("knn_statement_zero")
    frame = spark.sql(knn_topk_statement("knn_statement_zero", [0.0, -0.0], 3, ["vec_id"]))
    assert frame.dtypes == [("rank", "bigint"), ("score", "double"), ("vec_id", "bigint")]
    rows = frame.collect()
    assert [(r["rank"], r["score"], r["vec_id"]) for r in rows] == [
        (0, None, 1),
        (1, None, 3),
        (2, None, 5),
    ]


def test_search_clients_in_one_session_are_isolated(spark, sf_dir):
    """Two clients in one session, both under the default
    ``vector_store_name``, over disjoint corpora: each returns only its own
    documents."""
    from cobalt_duckdb_spark.client import SparkSearchClient

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.orderBy("doc_id").limit(20)
    halves = [docs.filter(F.col("doc_id") % 2 == parity) for parity in (0, 1)]
    clients = [SparkSearchClient.from_dataframe(h, "text", dim=16) for h in halves]
    try:
        for half, client in zip(halves, clients):
            own = sorted(r["doc_id"] for r in half.collect())
            [frame] = client.search_top_n("key agg row scan", n=20)
            assert sorted(r["doc_id"] for r in frame.collect()) == own
    finally:
        for client in clients:
            client.close()


def test_closing_a_client_leaves_its_twin_cached(spark, sf_dir):
    """Two clients over one input hold a cache entry each: closing one
    releases exactly its own, and the other still serves from its cache
    without running the embedder again."""
    from cobalt_duckdb_spark.client import SparkSearchClient

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(12)
    sc = spark.sparkContext
    a, b = (SparkSearchClient.from_dataframe(docs, "text", dim=16) for _ in range(2))
    try:
        for client in (a, b):
            client.store.count()
        held = sc._jsc.getPersistentRDDs().size()
        a.close()
        assert sc._jsc.getPersistentRDDs().size() == held - 1
        [frame] = b.search_top_n("key agg row scan", n=3)
        assert len(frame.collect()) == 3
        names = [op.nodeName() for op in _operators(frame._jdf.queryExecution().executedPlan())]
        assert any("InMemoryTableScan" in n for n in names), names
        assert not any("EvalPython" in n for n in names), names
    finally:
        b.close()


def test_search_top_n_keeps_columns_that_need_quoting(spark):
    """Display columns whose names need back-quotes (a space, a backtick)
    come back under their own names, with their values intact."""
    from cobalt_duckdb_spark.client import SparkSearchClient

    rows = [(i, f"v {i}", f"x`{i}`", f"doc {i} text") for i in range(6)]
    corpus = spark.createDataFrame(
        rows, "doc_id BIGINT, `my col` STRING, `a``b` STRING, text STRING"
    )
    client = SparkSearchClient.from_dataframe(corpus, "text", dim=16)
    try:
        [frame] = client.search_top_n("doc text", n=6)
        assert frame.columns == ["rank", "score", "doc_id", "my col", "a`b", "text"]
        got = sorted(tuple(r)[2:] for r in frame.collect())
        assert got == rows
    finally:
        client.close()


def test_search_top_n_persists_nothing(spark, search_client):
    """Requests leave no materialized block behind: the block manager holds
    as many persisted RDDs after 5 collected requests as before them."""
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    for i in range(5):
        for frame in search_client.search_top_n(f"query {i}", n=3):
            frame.collect()
    assert sc._jsc.getPersistentRDDs().size() == before


def test_driver_query_vectors_match_executor_embedder(spark, search_client):
    """The client's driver-side encode and the executors' pandas_udf resolve
    the same kernel: equal vectors, element for element, for the same
    prefixed text."""
    from cobalt_duckdb_spark.functions.inference import (
        QUERY_PREFIX,
        make_embedder_udf,
    )

    texts = [QUERY_PREFIX + t for t in ("key agg row scan", "", "検索 クエリ 🚀")]
    embed = make_embedder_udf(dim=16)
    rows = (
        spark.createDataFrame(list(enumerate(texts)), "i int, t string")
        .select("i", embed("t").alias("v"))
        .orderBy("i")
        .collect()
    )
    driver = search_client._encode(texts)
    assert len(rows) == len(texts)
    for row, vec in zip(rows, driver):
        assert len(row["v"]) == 16
        assert row["v"] == [float(x) for x in vec]
