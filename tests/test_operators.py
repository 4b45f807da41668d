"""Unit tests for operators on tiny literal frames + planted-dup checks."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.text import (
    fingerprint,
    markdown_cleanup,
    predicted_lang,
    shingles,
    token_count,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from cobalt_duckdb_spark.operators.joins import asof_join
from cobalt_duckdb_spark.ordering import sort_result


# --- result ordering ---------------------------------------------------------


def _ordering_fixture(spark):
    """Three partitions of rows with duplicate keys, NULLs and NaN; every
    row appears twice."""
    nan = float("nan")
    xs = [1.0, None, nan, 1.0, -0.5, nan, None, 2.0, 1.0, -0.5, 0.0, nan]
    ss = ["b", None, "a", "b", None, "c", "a", "b", "a", None, "c", None]
    rows = [(i % 7, x, s) for i, (x, s) in enumerate(zip(xs, ss))] * 2
    df = spark.createDataFrame(rows, "id BIGINT, x DOUBLE, s STRING")
    return df.repartition(3, "id")


def _canon(rows):
    # NaN != NaN, so compare the printed values
    return [tuple(repr(v) for v in r) for r in rows]


# Column functions need a live session, so each case builds its keys late
_ORDER_CASES = [
    lambda: ((F.asc_nulls_last("x"), F.desc_nulls_first("s"), "id"), {}),
    lambda: ((F.desc("x"), F.asc("s"), F.desc("id")), {}),
    lambda: ((F.desc_nulls_last("s"), F.asc_nulls_first("x"), F.asc("id")), {}),
    lambda: (("x", "s", "id"), {"ascending": [False, True, False]}),
]


@pytest.mark.parametrize("case", range(len(_ORDER_CASES)))
def test_sort_result_rows_equal_order_by(spark, case):
    """sort_result returns orderBy's rows in orderBy's order: duplicate
    keys, NULLs and NaN under mixed directions and NULL placements."""
    keys, kwargs = _ORDER_CASES[case]()
    df = _ordering_fixture(spark)
    assert df.rdd.getNumPartitions() == 3
    want = df.orderBy(*keys, **kwargs).collect()
    got = sort_result(df, *keys, **kwargs).collect()
    assert len(got) == 24
    assert _canon(got) == _canon(want)


def test_sort_result_of_empty_frame(spark):
    df = _ordering_fixture(spark).filter(F.col("id") < 0)
    got = sort_result(df, F.desc("x"), "id")
    assert got.collect() == []
    assert got.dtypes == df.dtypes


def test_sort_result_plans_no_range_exchange(spark):
    """The sort's child is one partition: the executed plan has no
    rangepartitioning shuffle (whose partitioner would sample its child in
    a job of its own), only a single-partition one."""
    df = _ordering_fixture(spark).groupBy("s").agg(F.count("*").alias("n"))
    plain = df.orderBy("s")
    plain.collect()
    assert "rangepartitioning" in plain._jdf.queryExecution().executedPlan().toString()
    one = sort_result(df, "s")
    one.collect()
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    assert "Exchange SinglePartition" in plan


# --- as-of join --------------------------------------------------------------


def _asof_fixture(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "k BIGINT, t BIGINT, tag STRING",
    )
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 15, 150), (2, 99, 990)],
        "k BIGINT, t BIGINT, v BIGINT",
    )
    return left, right


def test_asof_backward_semantics(spark):
    left, right = _asof_fixture(spark)
    out = {
        r["tag"]: r["asof_v"]
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="t", right_values=["v"]
        ).collect()
    }
    assert out["a"] == 100  # equal time matches
    assert out["b"] == 150  # latest ≤ 20
    assert out["c"] is None  # right exists but only later (99 > 15)
    assert out["d"] is None  # no right rows for key 3


def test_asof_right_dups_deterministic(spark):
    left = spark.createDataFrame([(1, 10)], "k BIGINT, t BIGINT")
    right = spark.createDataFrame(
        [(1, 10, 7), (1, 10, 9)], "k BIGINT, t BIGINT, v BIGINT"
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t", right_values=["v"]
    ).collect()
    assert out[0]["asof_v"] == 9  # max value wins the (k, t) tie, pinned


# --- dedup -------------------------------------------------------------------


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "Hello   world"),  # same after normalize+lower
            (3, "different"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out[1]["keeper_id"] == 1 and out[2]["keeper_id"] == 1
    assert out[1]["group_size"] == 2
    assert out[3]["keeper_id"] == 3 and out[3]["group_size"] == 1


def test_dedup_families_agree_on_planted_pairs(spark, sf_dir):
    """The three near-dup detectors must all surface the planted pairs."""
    docs = load_table(spark, sf_dir, "documents")
    jac = {
        (r["a_id"], r["b_id"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert jac, "expected planted near-dups at jaccard>=0.8"
    lsh = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    sim = {
        (r["a_id"], r["b_id"]) for r in simhash_pairs(docs, max_hamming=12).collect()
    }
    # high-jaccard planted pairs are found by LSH (b=8,r=4 → P(miss|j=0.9) ≈ 3e-6)
    assert jac <= lsh
    # and simhash at ≤12/64 bits finds them too (noise floor starts ~24 bits)
    assert jac <= sim


# --- text functions ----------------------------------------------------------


def test_markdown_cleanup_reference_semantics(spark):
    # mirrors /root/reference/model/data/notion_db.py:161
    df = spark.createDataFrame([("a\n\nb<br/>c*d**",)], "s STRING")
    out = df.select(markdown_cleanup("s").alias("c")).head()["c"]
    assert out == "a\nb\ncd"


def test_predicted_lang_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "der hund und die katze und das haus"),
            (3, "el perro y la casa y los gatos"),
            (4, "xyzzy qwerty plugh"),
        ],
        "id INT, text STRING",
    )
    out = {r["id"]: r["p"] for r in df.select("id", predicted_lang("text").alias("p")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "es"
    assert out[4] == "und"


def test_fingerprint_whitespace_invariance(spark):
    df = spark.createDataFrame(
        [("a  b\tc",), ("A b C",), ("totally different",)], "s STRING"
    )
    fps = [r["f"] for r in df.select(fingerprint("s").alias("f")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_shingles_and_token_count(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "s STRING")
    rows = df.select(
        token_count("s").alias("tc"), shingles("s", 3).alias("sh")
    ).collect()
    assert rows[0]["tc"] == 4
    assert sorted(rows[0]["sh"]) == ["a b c", "b c d"]
    assert rows[1]["sh"] == []  # shorter than n → empty set


# --- IVF vs brute force -------------------------------------------------------


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from cobalt_duckdb_spark.operators.knn import knn_topk_batch
    from cobalt_duckdb_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_topk_batch(emb, qs, k=5).collect()
    approx = ivf_topk(emb, qs, k=5, num_centroids=8, nprobe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    # self-match always survives (query == stored vector 0/1/2)
    for qid in (0, 1, 2):
        assert qid in approx_sets[qid]
        recall = len(exact_sets[qid] & approx_sets[qid]) / 5
        assert recall >= 0.2  # probing half the cells keeps at least the head


# --- advanced pack: rows-only queries pinned here ----------------------------


def test_approx_sketches_within_tolerance(spark, sf_dir):
    from cobalt_duckdb_spark.queries import QUERIES

    rows = QUERIES["agg_approx_sketches"](spark, sf_dir).collect()
    assert rows
    exact = {
        r["l_returnflag"]: r
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.percentile("l_extendedprice", 0.5).alias("median"),
        )
        .collect()
    }
    for r in rows:
        e = exact[r["l_returnflag"]]
        assert abs(r["approx_orders"] - e["orders"]) <= 0.1 * e["orders"]
        assert abs(r["approx_median"] - e["median"]) <= 0.1 * e["median"]


def test_udaf_centroids_match_exact_average(spark, sf_dir):
    import numpy as np

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries import QUERIES

    got = {r["label"]: r for r in QUERIES["udaf_label_centroids"](spark, sf_dir).collect()}
    pdf = load_table(spark, sf_dir, "embeddings").toPandas()
    for label, grp in pdf.groupby("label"):
        want = np.vstack(grp["embedding"].to_numpy()).astype(np.float64).mean(axis=0)
        assert got[label]["n_vectors"] == len(grp)
        # centroid is serialized (driver hash contract): pipe-joined
        # milli-unit ints — decode and compare against the exact average
        decoded = np.array(
            [int(x) / 1000.0 for x in got[label]["centroid_milli"].split("|")]
        )
        assert decoded.shape == want.shape
        assert np.allclose(decoded, want, atol=5e-4)  # half-milli quantization


def test_udtf_chunks_cover_document(spark, sf_dir):
    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries import QUERIES

    rows = QUERIES["udtf_sentence_split"](spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").filter("doc_id < 20").collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        rebuilt = " ".join(c["chunk"] for c in chunks)
        assert rebuilt == docs[doc_id]
        assert sum(c["n_tokens"] for c in chunks) == len(docs[doc_id].split(" "))


def test_mllib_brp_lsh_finds_normalized_neighbors(spark, sf_dir):
    """BRP-LSH on L2-normalized embeddings must recover the brute-force
    cosine near pairs (L2² = 2−2·cos on unit vectors)."""
    from pyspark.sql import functions as F

    from cobalt_duckdb_spark.functions.vector import l2_normalize
    from cobalt_duckdb_spark.operators.mllib_ann import brp_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", l2_normalize("embedding").alias("embedding")
    )
    # cos >= 0.4  ⇔  l2 <= sqrt(2 - 2*0.4)
    max_l2 = (2 - 2 * 0.4) ** 0.5
    got = {
        (r["a_id"], r["b_id"])
        for r in brp_near_dup_pairs(emb, max_l2, num_hash_tables=6).collect()
    }
    # brute force on the same normalized vectors
    from cobalt_duckdb_spark.functions.vector import cosine_similarity

    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ae"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("be"))
    want = {
        (r["a_id"], r["b_id"])
        for r in a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(cosine_similarity("ae", "be") >= 0.4)
        .collect()
    }
    assert want, "expected some near pairs in fixture"
    recall = len(got & want) / len(want)
    assert recall >= 0.8, f"LSH recall too low: {recall} ({len(got)=} {len(want)=})"


def test_mllib_minhash_lsh_finds_planted_dups(spark, sf_dir):
    from cobalt_duckdb_spark.operators.mllib_ann import minhash_lsh_token_pairs
    from cobalt_duckdb_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_token_pairs(docs, max_jaccard_distance=0.4).collect()
    }
    planted = {
        (r["a_id"], r["b_id"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert planted
    # token-set distance <= 0.4 is looser than 3-gram j>=0.8 → must cover
    missing = planted - got
    assert len(missing) <= max(1, len(planted) // 10), f"missed {missing}"


def test_build_vector_store(spark, sf_dir):
    import math

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.operators.knn import build_vector_store

    emb = load_table(spark, sf_dir, "embeddings")
    store = build_vector_store(emb, view_name="t_vstore")
    try:
        assert store.storageLevel.useMemory  # persisted
        row = store.head()
        assert math.isclose(sum(x * x for x in row.embedding), 1.0, rel_tol=1e-6)
        # registered for the SQL surface
        n = spark.sql("SELECT COUNT(*) AS n FROM t_vstore").head()["n"]
        assert n == store.count() == emb.count()
    finally:
        store.unpersist()


def test_cms_never_underestimates(spark, sf_dir):
    """CMS property: estimate >= exact count for EVERY token (not just heavy
    hitters)."""
    from cobalt_duckdb_spark.operators.sketch import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("item"))
    sketch = cms_build(toks)
    exact = toks.groupBy("item").agg(F.count(F.lit(1)).alias("exact"))
    joined = cms_estimate(sketch, exact.select("item")).join(exact, "item")
    rows = joined.collect()
    assert rows
    assert all(r["cms_estimate"] >= r["exact"] for r in rows)
    # d=4, w=1024 over this stream → heavy tokens should estimate tightly
    heavy = [r for r in rows if r["exact"] >= 100]
    assert heavy
    for r in heavy:
        assert r["cms_estimate"] <= r["exact"] * 1.5


def test_connected_components_hand_checked(spark):
    from cobalt_duckdb_spark.operators.graph import connected_components, dedup_groups

    # two components: {1,2,3,7} (chain + extra edge) and {10,11}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11), (2, 7)], "a_id BIGINT, b_id BIGINT"
    )
    comp = {
        r["vertex"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}

    groups = {r["doc_id"]: r for r in dedup_groups(edges).collect()}
    assert groups[7]["keeper_id"] == 1 and groups[7]["group_size"] == 4
    assert groups[11]["keeper_id"] == 10 and groups[11]["group_size"] == 2


def test_connected_components_long_chain_and_bound(spark):
    import pytest as _pytest

    from cobalt_duckdb_spark.operators.graph import connected_components

    # a 12-vertex path: diameter 11 → needs several propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "a_id BIGINT, b_id BIGINT"
    )
    comp = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}
    # refusing to return a non-fixpoint is part of the contract
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=2)


def test_cosine_block_pairs_bounded_memory_matches_full_matmul():
    """The blocked pair generator must (a) equal the full n×n upper-triangle
    result and (b) never see more than `block` rows per slab — the bounded
    per-task memory contract for hot blocking keys."""
    import numpy as np

    from cobalt_duckdb_spark.operators.dedup import cosine_block_pairs

    rng = np.random.default_rng(7)
    n, dim, block = 257, 16, 32  # n deliberately not a multiple of block
    mat = rng.normal(size=(n, dim))
    nm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(100, 100 + n)

    full = nm @ nm.T
    iu = np.triu_indices(n, k=1)
    mask = full[iu] >= 0.4
    expected = {
        (ids[i], ids[j]): full[i, j]
        for i, j in zip(iu[0][mask], iu[1][mask])
    }

    got = {}
    n_blocks = 0
    for a, b, s in cosine_block_pairs(ids, nm, threshold=0.4, block=block):
        n_blocks += 1
        # each slab covers at most `block` source rows → O(block·n) memory
        assert len(np.unique(a)) <= block
        for ai, bi, si in zip(a, b, s):
            got[(ai, bi)] = si

    assert n_blocks == -(-n // block)  # every block yielded, even empty ones
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12
    # sanity: threshold actually selects a nontrivial subset
    assert 0 < len(expected) < len(iu[0])


def test_pipeline_funnel_invariants(spark, sf_dir):
    """The curation funnel can only shrink: every stage's doc and token
    counts are <= the previous stage's, splits partition the decontaminated
    set exactly, and no stage goes to zero on healthy data."""
    from cobalt_duckdb_spark.queries import QUERIES

    rows = {r["stage"]: r for r in QUERIES["pipeline_corpus_curation"](spark, sf_dir).collect()}
    chain = ["raw", "quality", "exact_dedup", "near_dedup", "decontaminated"]
    for prev, cur in zip(chain, chain[1:]):
        assert rows[cur]["n_docs"] <= rows[prev]["n_docs"]
        assert rows[cur]["n_tokens"] <= rows[prev]["n_tokens"]
    assert rows["decontaminated"]["n_docs"] > 0
    split_docs = sum(
        rows[s]["n_docs"] for s in ("split_train", "split_valid", "split_test")
    )
    split_toks = sum(
        rows[s]["n_tokens"] for s in ("split_train", "split_valid", "split_test")
    )
    assert split_docs == rows["decontaminated"]["n_docs"]
    assert split_toks == rows["decontaminated"]["n_tokens"]


def test_kmeans_assignment_invariants(spark, sf_dir):
    """Lloyd output is a true partition: every vector assigned exactly once,
    cluster count <= k, members' distances are to their OWN centroid (so the
    per-cluster mean distance is bounded by the max member distance)."""
    from pyspark.sql import functions as F

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    final = kmeans_lloyd(vecs, k=8, iterations=2)
    n_vecs = vecs.count()
    assert final.count() == n_vecs
    assert final.select("vec_id").distinct().count() == n_vecs
    assert final.select("cid").distinct().count() <= 8
    assert final.filter(F.col("dist") < 0).count() == 0


def test_pq_adc_recall_and_self_match(spark, sf_dir):
    """PQ compresses 64-dim floats to 8 codes; ADC ranking must still (a)
    keep every query's own stored vector in its top-10 (quantization error
    can't displace a self-match far) and (b) retain a floor of the exact-L2
    top-10. Bounds measured with margin: observed 0.2-0.6 per-query recall
    at sf0.001/sf0.01 with the deterministic 16-centroid codebooks."""
    from cobalt_duckdb_spark.operators.pq import pq_adc_topk, _l2sq

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ex = (
        emb.crossJoin(qs.withColumnRenamed("query_vec", "qv"))
        .select(
            "query_id",
            "vec_id",
            _l2sq(
                F.col("embedding").cast("array<double>"),
                F.col("qv").cast("array<double>"),
            ).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d", "vec_id")
    exact_rows = ex.withColumn("rn", F.row_number().over(w)).filter("rn <= 10")
    exact: dict[int, set[int]] = {}
    for r in exact_rows.collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    approx: dict[int, set[int]] = {}
    for r in pq_adc_topk(emb, qs, k=10).collect():
        approx.setdefault(r.query_id, set()).add(r.vec_id)

    recalls = []
    for qid in (0, 1, 2):
        assert qid in approx[qid], "self-match lost under quantization"
        recalls.append(len(exact[qid] & approx[qid]) / 10)
    assert min(recalls) >= 0.1
    assert sum(recalls) / len(recalls) >= 0.25


def test_asof_nearest_tie_prefers_backward(spark):
    from cobalt_duckdb_spark.operators.joins import asof_join_nearest

    left = spark.createDataFrame(
        [(1, 10, 100)], "lid INT, k INT, t BIGINT"
    )
    # two right rows equidistant from t=100 → backward (t=90) must win;
    # plus a key with only a forward candidate and a key with none
    right = spark.createDataFrame(
        [(10, 90, "back"), (10, 110, "fwd")], "k INT, t BIGINT, tag STRING"
    )
    out = asof_join_nearest(
        left, right, on="k", left_time="t", right_time="t", right_values=["tag"]
    ).collect()
    assert len(out) == 1
    assert out[0]["tag_nearest"] == "back"
    assert out[0]["matched_time"] == 90

    only_fwd = spark.createDataFrame([(2, 10, 50)], "lid INT, k INT, t BIGINT")
    out2 = asof_join_nearest(
        only_fwd, right.filter("t = 110").withColumn("k", F.lit(10) * 0 + 10),
        on="k", left_time="t", right_time="t", right_values=["tag"],
    ).collect()
    # left key 10? no — left k=10 matches right k=10 with only t=110 → forward
    assert out2[0]["tag_nearest"] == "fwd" and out2[0]["matched_time"] == 110

    no_match = spark.createDataFrame([(3, 99, 50)], "lid INT, k INT, t BIGINT")
    out3 = asof_join_nearest(
        no_match, right, on="k", left_time="t", right_time="t", right_values=["tag"]
    ).collect()
    assert out3[0]["tag_nearest"] is None and out3[0]["matched_time"] is None


def test_chunk_sliding_windows_tail_rule(spark, sf_dir):
    from cobalt_duckdb_spark.queries.text import text_chunk_sliding_windows, _CHUNK_W, _CHUNK_STRIDE

    rows = text_chunk_sliding_windows(spark, sf_dir).collect()
    assert rows, "chunking produced no rows"
    # independent token counts straight off the corpus (same split rule)
    n_tokens_by_doc = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_tokens_by_doc)  # every doc chunked
    for doc, chunks in by_doc.items():
        idxs = [c["chunk_idx"] for c in chunks]
        assert idxs == list(range(len(idxs)))  # dense, ordered
        for c in chunks[:-1]:
            assert c["n_tokens"] == _CHUNK_W  # only the tail may be short
        assert 0 < chunks[-1]["n_tokens"] <= _CHUNK_W
        # every token covered: the last chunk must reach the END of the doc
        last_end = chunks[-1]["chunk_idx"] * _CHUNK_STRIDE + chunks[-1]["n_tokens"]
        assert last_end == n_tokens_by_doc[doc]


def test_jaccard_max_df_guard_drops_boilerplate_only_pairs(spark):
    from cobalt_duckdb_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "subscribe to our newsletter now"  # hot shingles, every doc
    rows = []
    for i in range(12):
        body = f"unique body text number {i} with words w{i} x{i} y{i} z{i}"
        rows.append((i, f"{body} {boiler}"))
    # one true near-dup pair: 100 and 101 share their body
    rows.append((100, "the quick brown fox jumps over the lazy dog " + boiler))
    rows.append((101, "the quick brown fox jumps over the lazy dog today " + boiler))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    exact = ngram_jaccard_pairs(docs, threshold=0.3)
    capped = ngram_jaccard_pairs(docs, threshold=0.3, max_df=5)
    exact_pairs = {(r["a_id"], r["b_id"]) for r in exact.collect()}
    capped_pairs = {(r["a_id"], r["b_id"]) for r in capped.collect()}

    # the true near-dup survives the guard; boilerplate-only pairs never
    # reached threshold in the exact pass and are gone from the capped
    # candidate set entirely
    assert (100, 101) in exact_pairs
    assert (100, 101) in capped_pairs
    assert capped_pairs == exact_pairs
    # capped jaccard is a lower bound of the exact score
    exact_j = {(r["a_id"], r["b_id"]): r["jaccard"] for r in exact.collect()}
    capped_j = {(r["a_id"], r["b_id"]): r["jaccard"] for r in capped.collect()}
    for pair, j in capped_j.items():
        assert j <= exact_j[pair] + 1e-9


def test_range_join_bucketed_matches_naive(spark):
    import random

    from cobalt_duckdb_spark.operators.joins import range_join_bucketed

    rng = random.Random(11)
    points = spark.createDataFrame(
        [(i, rng.randint(0, 300)) for i in range(200)], "pid BIGINT, t BIGINT"
    )
    intervals = spark.createDataFrame(
        [
            (j, s, s + rng.randint(0, 40))
            for j, s in ((j, rng.randint(0, 300)) for j in range(60))
        ],
        "iid BIGINT, t0 BIGINT, t1 BIGINT",
    )
    naive = {
        (r["pid"], r["iid"])
        for r in points.join(
            intervals,
            (points.t >= intervals.t0) & (points.t <= intervals.t1),
        ).collect()
    }
    got_rows = range_join_bucketed(
        points, intervals, "t", "t0", "t1",
        bucket_fn=lambda t: F.floor(t / 25),  # narrower than max interval: multi-bucket explode exercised
    ).collect()
    got = {(r["pid"], r["iid"]) for r in got_rows}
    assert got == naive
    assert len(got_rows) == len(naive)  # one output row per match — no dups

    left = range_join_bucketed(
        points, intervals, "t", "t0", "t1",
        bucket_fn=lambda t: F.floor(t / 25), how="left",
    ).collect()
    matched_pids = {r["pid"] for r in left if r["iid"] is not None}
    null_pids = {r["pid"] for r in left if r["iid"] is None}
    assert matched_pids == {p for p, _ in naive}
    assert null_pids == {r["pid"] for r in points.collect()} - matched_pids
    assert {(r["pid"], r["iid"]) for r in left if r["iid"] is not None} == naive


def test_semdedup_planted_duplicate_dropped(spark):
    """Two near-identical vectors land in the same cluster; the one farther
    from the centroid is dropped with the closer one as keeper. A distant
    singleton is never flagged."""
    from cobalt_duckdb_spark.operators.dedup import semdedup_dropped

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),      # seed / centroid 0
        (1, [0.0, 1.0, 0.0, 0.0]),      # seed / centroid 1
        (10, [0.9, 0.1, 0.0, 0.0]),     # near centroid 0
        (11, [0.89, 0.11, 0.0, 0.0]),   # near-dup of 10, slightly farther
        (20, [0.0, 0.9, 0.4, 0.0]),     # cluster 1, dissimilar direction
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    out = {
        r["doc_id"]: r
        for r in semdedup_dropped(emb, k=2, eps=0.99).collect()
    }
    # planted pair: cos(10, 11) ≈ 0.9998 ≥ 0.99; keeper must be the one
    # closer to centroid 0 (vec 0 itself is closest; 10 beats 11).
    assert 11 in out and out[11]["keeper_id"] in (0, 10)
    assert out[11]["cos_sim"] >= 0.99
    # the dissimilar cluster-1 member is not dropped
    assert 20 not in out


def test_srp_lsh_planted_identical_pair_all_bands(spark):
    """Identical vectors share the whole 64-bit signature, so they collide
    in all 8 bands and verify at cosine 1.0; an orthogonal singleton is
    never paired with them."""
    from cobalt_duckdb_spark.operators.dedup import srp_lsh_pairs

    base = [0.3, -1.2, 0.7, 2.0] * 16  # 64-dim
    ortho = [(-1.0) ** i * (1.0 + i) for i in range(64)]
    emb = spark.createDataFrame(
        [(1, base), (2, list(base)), (3, ortho)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    rows = srp_lsh_pairs(emb, eps=0.9, dims=64).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [(1, 2)]
    assert rows[0]["n_bands"] == 8
    assert rows[0]["cos_sim"] == 1.0


def test_srp_lsh_non_default_dims(spark):
    """dims must reach the hyperplane builder through the srp_bands front
    end (ADVICE r4: the extracted front end silently used its own default,
    so dims=32 crashed in the pandas UDF with a matmul shape mismatch)."""
    from cobalt_duckdb_spark.operators.dedup import srp_lsh_pairs

    base = [0.5, -1.5, 2.5, -0.5] * 8  # 32-dim
    ortho = [(-1.0) ** i * (2.0 + i) for i in range(32)]
    emb = spark.createDataFrame(
        [(1, base), (2, list(base)), (3, ortho)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    rows = srp_lsh_pairs(emb, eps=0.9, dims=32).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [(1, 2)]
    assert rows[0]["n_bands"] == 8
    assert rows[0]["cos_sim"] == 1.0


def test_waterfill_allocation_invariants(spark, sf_dir):
    """Water-filling: allocations sum to exactly the 30% budget, never
    exceed a source's own tokens, and capped sources all sit within one
    token of the common water level."""
    from cobalt_duckdb_spark.queries.pipeline import mix_waterfill_budget

    rows = mix_waterfill_budget(spark, sf_dir).collect()
    total = sum(r["n_tokens"] for r in rows)
    budget = total * 3 // 10
    assert sum(r["allocated"] for r in rows) == budget
    assert all(r["allocated"] <= r["n_tokens"] for r in rows)
    capped = [r["allocated"] for r in rows if r["allocated"] < r["n_tokens"]]
    assert capped and max(capped) - min(capped) <= 1


def test_sessionization_planted_gap_splits(spark):
    """A 31-minute silence starts a new session; 29 minutes does not."""
    import cobalt_duckdb_spark.queries.events as qe
    from cobalt_duckdb_spark.queries.events import events_sessionization

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view", 1.0, "{}"),
        (2, "2024-01-01 10:29:00", 7, "click", 1.0, "{}"),   # same session
        (3, "2024-01-01 11:00:30", 7, "purchase", 9.5, "{}"),  # 31.5 min gap
    ]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    ).withColumn("ts", F.to_timestamp("ts"))
    orig = qe.load_table
    qe.load_table = lambda spark_, sf_dir_, name: df
    try:
        out = events_sessionization(spark, "ignored").collect()
    finally:
        qe.load_table = orig
    assert [(r["session_n"], r["n_events"]) for r in out] == [(1, 2), (2, 1)]
    assert out[1]["n_purchases"] == 1 and out[1]["revenue"] == 9.5


def test_interval_coverage_invariants(spark, sf_dir):
    """Union-of-intervals coverage: per user, coverage is at least one
    window (300 s) and at most n_events × 300 s; islands never outnumber
    events; and a user with n islands covers ≥ n × 300 s (each island is
    at least one full window)."""
    from cobalt_duckdb_spark.queries.timeseries import events_interval_coverage

    rows = events_interval_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_islands"] >= 1
        assert r["n_islands"] <= r["n_events"]
        assert r["covered_seconds"] >= 300.0 * r["n_islands"] - 1e-6
        assert r["covered_seconds"] <= 300.0 * r["n_events"] + 1e-6


def test_autocorrelation_bounds_and_gapfill(spark, sf_dir):
    """ACF values are correlations (|acf| ≤ 1) and the gap-filled series
    spans the same number of hours for every type (the grid is global)."""
    from cobalt_duckdb_spark.queries.timeseries import (
        events_autocorrelation_hourly,
    )

    rows = events_autocorrelation_hourly(spark, sf_dir).collect()
    assert len(rows) == 5
    assert len({r["n_hours"] for r in rows}) == 1
    for r in rows:
        for k in ("acf_1", "acf_2", "acf_3"):
            assert r[k] is None or abs(r[k]) <= 1.0


def test_key_skew_profiler_matches_numpy_gini(spark, sf_dir):
    """The tied-block Gini rank-sum equals the textbook sorted-rank formula
    computed in Python over the same per-key counts, and LOO target
    encoding reconstructs the plain category mean when a row's own value
    is added back."""
    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.advanced import stats_key_skew_profiler

    row = stats_key_skew_profiler(spark, sf_dir).collect()[0]
    counts = sorted(
        r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    )
    n, s = len(counts), sum(counts)
    gini = 2 * sum((i + 1) * x for i, x in enumerate(counts)) / (n * s) - (
        n + 1
    ) / n
    assert abs(row["gini"] - round(gini, 6)) < 1e-9
    assert 0.0 <= row["gini"] < 1.0
    assert row["top1_share"] >= 1.0 / row["n_keys"]
    assert row["top10_share"] >= row["top1_share"]
    assert row["p99_over_median"] >= 1.0


def test_target_encoding_loo_reconstructs_mean(spark, sf_dir):
    """(loo·(n−1) + own value) / n = the category mean, for every row."""
    from cobalt_duckdb_spark.queries.pipeline import features_target_encoding

    rows = features_target_encoding(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        mean = sum(r["value"] for r in rs) / len(rs)
        for r in rs[:20]:
            if r["loo_encoding"] is None:
                assert r["category_n"] == 1
                continue
            recon = (r["loo_encoding"] * (r["category_n"] - 1) + r["value"]) / r[
                "category_n"
            ]
            assert abs(recon - mean) < 1e-3


def test_label_propagation_separates_bridged_cliques(spark):
    """Two 4-cliques (heavy internal edges) joined by one weak bridge edge:
    LPA puts each clique in its own community (labelled by its min node),
    while connected components would merge all 8 nodes."""
    from cobalt_duckdb_spark.operators.graph import label_propagation

    cliques = [(0, 1, 2, 3), (10, 11, 12, 13)]
    edges = [
        (a, b, 5.0)
        for nodes in cliques
        for i, a in enumerate(nodes)
        for b in nodes[i + 1 :]
    ] + [(3, 10, 1.0)]
    df = spark.createDataFrame(edges, "a long, b long, w double")
    got = {
        r["node"]: r["label"] for r in label_propagation(df, iters=3).collect()
    }
    assert {got[n] for n in cliques[0]} == {0}
    assert {got[n] for n in cliques[1]} == {10}


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    """C^64 via repeated squaring captures ≥98% of numpy's exact top
    eigenvalue (the spectrum is near-flat, so the direction may mix the
    top subspace — the Rayleigh quotient is the convergence criterion)."""
    import numpy as np

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.similarity import (
        embedding_pca_power_iteration,
    )

    rows = embedding_pca_power_iteration(spark, sf_dir).collect()
    v = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    lam = rows[0]["eigenvalue"]
    X = np.array(
        [
            r["embedding"]
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    C = np.cov((X - X.mean(axis=0)).T, bias=True)
    w, vecs = np.linalg.eigh(C)
    top_val, top_vec = w[-1], vecs[:, -1]
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3
    # near-flat spectrum: direction may mix the near-degenerate top
    # subspace, but the captured variance must sit within 2% of the true
    # top eigenvalue and dominate the mean eigenvalue decisively
    assert lam >= 0.98 * top_val
    assert lam <= top_val * 1.001
    assert abs(float(v @ top_vec)) > 0.5
    assert lam > 1.5 * w.mean()


def test_cdc_chunks_shift_invariance(spark):
    """The CDC property: prepending one token re-chunks only the prefix —
    most fingerprints survive, while fixed-stride windows would shift every
    chunk. Also pins exact reassembly: per-doc token counts sum to the
    doc's length."""
    from cobalt_duckdb_spark.operators.dedup import cdc_chunks

    words = [f"w{i * 37 % 101}" for i in range(400)]
    base = " ".join(words)
    shifted = "zzz " + base
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    chunks = cdc_chunks(df).collect()
    by_doc = {1: [], 2: []}
    for r in chunks:
        by_doc[r["doc_id"]].append(r)
    assert sum(r["n_tokens"] for r in by_doc[1]) == 400
    assert sum(r["n_tokens"] for r in by_doc[2]) == 401
    fp1 = {r["fingerprint"] for r in by_doc[1]}
    fp2 = {r["fingerprint"] for r in by_doc[2]}
    shared = len(fp1 & fp2)
    assert shared >= 0.7 * len(fp1), (shared, len(fp1), len(fp2))


def test_ks_and_mwu_match_python_reference(spark, sf_dir):
    """KS D-statistic and Mann-Whitney U recomputed in plain Python from
    the same rows — independent implementations, exact agreement."""
    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.advanced import (
        stats_ks_two_sample,
        stats_mann_whitney_u,
    )

    e = load_table(spark, sf_dir, "events")
    a = [r["value"] for r in e.filter("event_type = 'click'").collect()]
    b = [r["value"] for r in e.filter("event_type = 'view'").collect()]

    ks = stats_ks_two_sample(spark, sf_dir).collect()[0]
    pts = sorted(set(a) | set(b))
    d = max(
        abs(
            sum(x <= p for x in a) / len(a)
            - sum(x <= p for x in b) / len(b)
        )
        for p in pts
    )
    assert abs(ks["ks_d"] - round(d, 6)) < 1e-9

    mwu = stats_mann_whitney_u(spark, sf_dir).collect()[0]
    pooled = sorted([(v, 1) for v in a] + [(v, 0) for v in b])
    # average ranks with ties
    ranks = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks[k] = avg
        i = j
    r_a = sum(ranks[k] for k, (_, isa) in enumerate(pooled) if isa)
    u_a = r_a - len(a) * (len(a) + 1) / 2.0
    assert abs(mwu["u_a"] - round(u_a, 2)) < 1e-6
    assert abs(mwu["auc_estimate"] - round(u_a / (len(a) * len(b)), 6)) < 1e-9


def test_rolling_median_matches_pandas(spark, sf_dir):
    """Trailing-20 rolling median equals pandas rolling(20, min_periods=1)
    .median() per event type over the identically ordered series."""
    import pandas as pd

    from cobalt_duckdb_spark.queries.timeseries import events_rolling_median

    rows = events_rolling_median(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        vals = pd.Series([r["value"] for r in rs])
        want = vals.rolling(20, min_periods=1).median()
        for got, w in zip(rs, want):
            assert abs(got["rolling_median"] - round(w, 6)) < 2e-6


def test_markov_absorption_matches_numpy_inverse(spark, sf_dir):
    """The 128-term doubling series equals numpy's exact (I−Q)⁻¹ to ~1e-4
    and the diagonal is ≥ 1 (you visit your own start)."""
    import numpy as np

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.events import (
        events_markov_absorption,
        events_transition_matrix,
    )

    tm = events_transition_matrix(spark, sf_dir).collect()
    states = sorted(
        {r["from_type"] for r in tm if r["from_type"] != "purchase"}
    )
    idx = {s: k for k, s in enumerate(states)}
    Q = np.zeros((len(states), len(states)))
    for r in tm:
        if r["from_type"] in idx and r["to_type"] in idx:
            Q[idx[r["from_type"]], idx[r["to_type"]]] = r["p"]
    N = np.linalg.inv(np.eye(len(states)) - Q)
    got = events_markov_absorption(spark, sf_dir).collect()
    assert len(got) == len(states) ** 2
    for r in got:
        want = N[idx[r["from_state"]], idx[r["to_state"]]]
        assert abs(r["expected_visits"] - want) < 1e-3, (r, want)
        if r["from_state"] == r["to_state"]:
            assert r["expected_visits"] >= 1.0


def _round9(cells):
    return F.transform(cells, lambda x: F.round(x, 9))


def _long_square(p):
    """The long-format step the one-row product replaces: join on the
    middle label, SUM, round to 9 dp."""
    x, y = p.alias("x"), p.alias("y")
    return (
        x.join(y, F.col("x.j") == F.col("y.i"))
        .groupBy(F.col("x.i").alias("i"), F.col("y.j").alias("j"))
        .agg(F.round(F.sum(F.col("x.p") * F.col("y.p")), 9).alias("p"))
    )


def test_matrix_product_and_iterate_match_long_join(spark):
    """The one-row product and iteration equal the long-format
    join-aggregate cell for cell. Absent edges stay absent (NULL, no long
    row) — c has no successor, nothing reaches a from b — and the a→c
    cell of P² (1e-5 · 1e-5, rounded to 9 dp) stays a PRESENT 0.0."""
    from cobalt_duckdb_spark.functions.matrix import dense, iterate, long, product

    p = spark.createDataFrame(
        [("a", "a", 0.99999), ("a", "b", 1e-5), ("b", "b", 0.99999),
         ("b", "c", 1e-5)],
        "i STRING, j STRING, p DOUBLE",
    )
    m = dense(p)
    k = F.size("labels")
    sq = m.select(
        "labels", _round9(product(F.col("cells"), F.col("cells"), k)).alias("cells")
    )
    p8 = m.select(
        "labels",
        iterate(F.col("cells"), 3, lambda c: _round9(product(c, c, k))).alias(
            "cells"
        ),
    )

    def cells(df):
        return {(r["i"], r["j"]): r["p"] for r in df.collect()}

    want2 = cells(_long_square(p))
    want8 = cells(_long_square(_long_square(_long_square(p))))
    assert cells(long(sq)) == want2
    assert cells(long(p8)) == want8
    assert want2[("a", "c")] == 0.0
    row = sq.collect()[0]
    labels, got = row["labels"], row["cells"]
    assert labels == ["a", "b", "c"]
    assert got[0 * 3 + 2] == 0.0  # present zero
    assert got[1 * 3 + 0] is None  # b never reaches a
    assert got[2 * 3:] == [None, None, None]  # c has no successor
    assert ("b", "a") not in want2 and ("b", "a") not in want8
    # a complete matrix, rows given in reverse: cells come out row-major
    full = spark.createDataFrame(
        [(i, j, 10.0 * a + b) for a, i in enumerate("xyz")
         for b, j in enumerate("xyz")][::-1],
        "i STRING, j STRING, p DOUBLE",
    )
    assert dense(full).collect()[0]["cells"] == [
        10.0 * a + b for a in range(3) for b in range(3)
    ]


def test_markov_stationary_matches_numpy(spark, sf_dir):
    """π read off P³² equals numpy's: the exact transition matrix to the
    32nd power, row-mean, normalized — to 1e-6 (6-dp output plus the
    9-dp per-squaring fixed point)."""
    import numpy as np

    from cobalt_duckdb_spark.queries.events import events_markov_stationary

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev["next"] = ev.groupby("user_id")["event_type"].shift(-1)
    pairs = ev.dropna(subset=["next"])
    types = sorted(set(pairs["event_type"]) | set(pairs["next"]))
    idx = {t: n for n, t in enumerate(types)}
    C = np.zeros((len(types), len(types)))
    for a, b in zip(pairs["event_type"], pairs["next"]):
        C[idx[a], idx[b]] += 1
    Pk = np.linalg.matrix_power(C / C.sum(axis=1, keepdims=True), 32)
    # every cell present, so the query's per-column AVG over present cells
    # is numpy's plain row-mean
    assert (Pk > 0).all()
    pi = Pk.mean(axis=0)
    pi /= pi.sum()
    got = {
        r["event_type"]: r["stationary_p"]
        for r in events_markov_stationary(spark, sf_dir).collect()
    }
    assert sorted(got) == types
    for t in types:
        assert abs(got[t] - pi[idx[t]]) < 1e-6, (t, got[t], pi[idx[t]])


def test_markov_stationary_leaky_chain_is_null(spark, tmp_path):
    """A leaky chain (a→a, a→b, b has no successor) decays to all-zero
    mass at 9 dp: P³² keeps its cells as PRESENT 0.0, so π's normalizer
    is 0 and both engines publish NULL (DuckDB x/0) instead of raising."""
    import datetime as dt

    import pandas as pd

    from cobalt_duckdb_spark.queries.events import events_markov_stationary

    t0 = dt.datetime(2024, 1, 1)
    pd.DataFrame({
        "event_id": [1, 2, 3],
        "ts": [t0 + dt.timedelta(minutes=m) for m in range(3)],
        "user_id": [7, 7, 7],
        "event_type": ["a", "a", "b"],
        "value": [1.0, 1.0, 1.0],
        "props": ["{}"] * 3,
    }).astype({"ts": "datetime64[us]"}).to_parquet(tmp_path / "events.parquet")
    got = events_markov_stationary(spark, str(tmp_path)).collect()
    assert [tuple(r) for r in got] == [("a", None), ("b", None)]


def test_bpe_round1_agrees_with_pair_counts(spark, sf_dir):
    """The first BPE merge equals the argmax of the standalone pair-count
    query (same tie-break), tying the iterative trainer to its one-step
    statistic."""
    from cobalt_duckdb_spark.queries.text import (
        text_bpe_merge_pairs,
        text_bpe_merge_rounds,
    )

    top_pairs = text_bpe_merge_pairs(spark, sf_dir).collect()
    best = max(top_pairs, key=lambda r: (r["n"], [-ord(c) for c in r["pair"]]))
    rounds = {r["round"]: r for r in text_bpe_merge_rounds(spark, sf_dir).collect()}
    assert rounds[1]["merged_symbol"] == best["pair"]
    assert rounds[1]["n"] == best["n"]
    assert rounds[1]["n"] >= rounds[2]["n"] >= rounds[3]["n"]


def test_recall_curve_monotone_in_nprobe(spark, sf_dir):
    """More probes never hurt: recall@5 and scanned share are both
    non-decreasing in nprobe."""
    from cobalt_duckdb_spark.queries.similarity import (
        simsearch_recall_nprobe_curve,
    )

    rows = sorted(
        simsearch_recall_nprobe_curve(spark, sf_dir).collect(),
        key=lambda r: r["nprobe"],
    )
    recalls = [r["avg_recall_at_5"] for r in rows]
    scans = [r["avg_scanned_share"] for r in rows]
    assert recalls == sorted(recalls)
    assert scans == sorted(scans)
    assert recalls[-1] >= 0.9  # nprobe=4 of 16 cells should be near-exact


def test_binary_hamming_self_hit_and_candidate_recall(spark, sf_dir):
    """Sign-hash Hamming top-k: the query itself is rank 1 with distance 0
    (sign codes are deterministic), and the Hamming candidate set keeps at
    least one exact-cosine top-10 neighbor per query — the property that
    makes a 1-bit code usable as a first-stage filter (it narrows, never
    replaces, the exact rerank; recall@10 of ~2-5/10 at dim 64 is the
    measured operating point, far above the ~10/500 random baseline)."""
    import numpy as np

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.similarity import (
        simsearch_binary_hamming_topk,
    )

    rows = simsearch_binary_hamming_topk(spark, sf_dir).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    ids = sorted(emb)
    mat = np.stack([emb[i] / np.linalg.norm(emb[i]) for i in ids])
    for q in range(3):
        mine = [r for r in rows if r["query_id"] == q]
        assert [r["vec_id"] for r in mine if r["rank"] == 1] == [q]
        assert [r["hamming"] for r in mine if r["rank"] == 1] == [0]
        assert len(mine) == 10
        sims = mat @ mat[ids.index(q)]
        exact10 = {ids[i] for i in np.argsort(-sims)[:10]}
        assert len(exact10 & {r["vec_id"] for r in mine}) >= 1


def test_poisson_bootstrap_ci_brackets_mean_and_se_scale(spark, sf_dir):
    """The 95% bootstrap CI brackets the point estimate for every group,
    and the bootstrap SE agrees with the analytic sd/sqrt(n) within 3x in
    both directions (Poisson(1) weights have unit variance, so the
    replicate-mean spread estimates exactly that) — an independent check
    the md5-derandomized draws behave like real Poisson resamples."""
    import math
    import statistics

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.advanced import stats_poisson_bootstrap_ci

    rows = {r["event_type"]: r for r in stats_poisson_bootstrap_ci(spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    by_type = {}
    for r in e:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    assert set(rows) == set(by_type)
    for t, r in rows.items():
        assert r["boot_lo"] <= r["mean_value"] <= r["boot_hi"]
        vals = by_type[t]
        analytic_se = statistics.stdev(vals) / math.sqrt(len(vals))
        assert analytic_se / 3 < r["boot_se"] < analytic_se * 3
        assert r["n"] == len(vals)


def test_scc_matches_python_tarjan(spark, sf_dir):
    """SCC assignment recomputed independently: rebuild the same top-6
    transition graph in Python from the raw events, run iterative Tarjan,
    and compare the full partition (ids differ — compare the grouping)."""
    from collections import Counter, defaultdict

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.graph_analytics import (
        graph_scc_mutual_reachability,
    )

    got = {
        r["event_type"]: r["scc_id"]
        for r in graph_scc_mutual_reachability(spark, sf_dir).collect()
    }

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    pairs = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            if a != b:
                pairs[(a, b)] += 1
    top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:6]
    adj = defaultdict(set)
    nodes = {r["event_type"] for r in ev}
    for (a, b), _ in top:
        adj[a].add(b)

    # iterative Tarjan
    index, low, onstack, stack, sccs = {}, {}, set(), [], []
    counter = [0]

    def strongconnect(v0):
        work = [(v0, iter(sorted(adj[v0])))]
        index[v0] = low[v0] = counter[0]; counter[0] += 1
        stack.append(v0); onstack.add(v0)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]; counter[0] += 1
                    stack.append(w); onstack.add(w)
                    work.append((w, iter(sorted(adj[w]))))
                    advanced = True
                    break
                elif w in onstack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = set()
                while True:
                    w = stack.pop(); onstack.discard(w); comp.add(w)
                    if w == v:
                        break
                sccs.append(comp)

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)

    want = {v: min(c) for c in sccs for v in c}
    assert got == want


def test_rake_phrases_structurally_valid(spark, sf_dir):
    """RAKE output invariants: no stopword inside any phrase, phrase
    length 1..4 tokens, positive scores, exactly top-15 rows in
    non-increasing score order."""
    from cobalt_duckdb_spark.queries.text import _RAKE_STOPS, text_rake_keywords

    rows = text_rake_keywords(spark, sf_dir).collect()
    assert len(rows) == 15
    scores = [r["rake_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        toks = r["phrase"].split(" ")
        assert 1 <= len(toks) <= 4
        assert not set(toks) & set(_RAKE_STOPS)
        assert r["rake_score"] > 0
        assert r["n_occurrences"] >= 1


def test_seasonal_naive_backtest_matches_pandas(spark, sf_dir):
    """MAPE/sMAPE/RMSE recomputed with pandas groupby/shift over the same
    hourly rollup — independent implementation, 4-dp agreement."""
    import pandas as pd

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.timeseries import (
        events_seasonal_naive_backtest,
    )

    got = {
        r["event_type"]: r
        for r in events_seasonal_naive_backtest(spark, sf_dir).collect()
    }
    pdf = load_table(spark, sf_dir, "events").select("event_type", "ts").toPandas()
    pdf["h"] = pdf["ts"].dt.floor("h")
    hourly = (
        pdf.groupby(["event_type", "h"]).size().rename("n").reset_index()
    )
    max_h = hourly["h"].max()
    for t, grp in hourly.sort_values("h").groupby("event_type"):
        g = grp.copy()
        g["fc"] = g["n"].shift(24)
        g = g[(g["fc"].notna()) & (g["h"] >= max_h - pd.Timedelta(days=7))]
        if t not in got:
            assert g.empty
            continue
        err = g["n"] - g["fc"]
        assert got[t]["n_hours"] == len(g)
        assert abs(got[t]["mape"] - round((err.abs() / g["n"]).mean(), 4)) < 1e-9
        assert (
            abs(
                got[t]["smape"]
                - round((2.0 * err.abs() / (g["n"] + g["fc"])).mean(), 4)
            )
            < 1e-9
        )
        assert abs(got[t]["rmse"] - round(((err**2).mean()) ** 0.5, 4)) < 1e-9


def test_burstiness_zero_inclusive_moments(spark, sf_dir):
    """VMR recomputed in Python INCLUDING explicit zero counts for absent
    documents — proves the moments-without-materializing-zeros identity."""
    from collections import Counter

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.text import text_term_burstiness

    rows = text_term_burstiness(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    nd = len(docs)
    counts = {}
    for d in docs:
        for w, c in Counter(d["text"].split(" ")).items():
            counts.setdefault(w, {})[d["doc_id"]] = c
    for r in rows:
        per_doc = counts[r["word"]]
        full = list(per_doc.values()) + [0] * (nd - len(per_doc))
        mean = sum(full) / nd
        var = sum(x * x for x in full) / nd - mean * mean
        assert abs(r["vmr"] - round(var / mean, 4)) < 1e-9
        assert r["df"] == len(per_doc)


def test_bh_fdr_matches_python_erf(spark, sf_dir):
    """z, p, and the BH step-up decision recomputed in Python with
    math.erf (exact) — the A&S polynomial must agree within its 1.5e-7
    published bound, and the rejection set must match an independent BH
    implementation."""
    import math
    import statistics

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.advanced import (
        _BH_ALPHA,
        stats_benjamini_hochberg_fdr,
    )

    rows = stats_benjamini_hochberg_fdr(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    by_type = {}
    for r in e:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    pvals = {}
    for t, vals in by_type.items():
        rest = [v for u, vs in by_type.items() if u != t for v in vs]
        z = (statistics.fmean(vals) - statistics.fmean(rest)) / math.sqrt(
            statistics.variance(vals) / len(vals)
            + statistics.variance(rest) / len(rest)
        )
        pvals[t] = 2 * (1 - 0.5 * (1 + math.erf(abs(z) / math.sqrt(2))))
    ordered = sorted(pvals, key=lambda t: (pvals[t], t))
    m = len(ordered)
    kmax = max(
        (i + 1 for i, t in enumerate(ordered)
         if pvals[t] <= (i + 1) * _BH_ALPHA / m),
        default=0,
    )
    for r in rows:
        assert abs(r["p"] - pvals[r["event_type"]]) < 1e-6
        assert r["p_rank"] == ordered.index(r["event_type"]) + 1
        assert r["rejected"] == (1 if r["p_rank"] <= kmax else 0)


def test_fsm_conformance_matches_python(spark, sf_dir):
    """Rule counts recomputed from raw per-user sequences in Python."""
    from collections import defaultdict

    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.events import events_fsm_conformance

    got = {r["rule"]: r for r in events_fsm_conformance(spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    chk = {
        "purchase_needs_recent_engagement": [0, 0],
        "no_rapid_repeated_error": [0, 0],
        "signup_at_most_once": [0, 0],
    }
    for seq in by_user.values():
        seq.sort()
        seen_signup = 0
        prev = None
        for ts, _, t in seq:
            if t == "purchase":
                chk["purchase_needs_recent_engagement"][0] += 1
                ok = (
                    prev is not None
                    and prev[1] in ("click", "view")
                    and (ts - prev[0]).total_seconds() <= 1800
                )
                chk["purchase_needs_recent_engagement"][1] += 0 if ok else 1
            elif t == "error":
                chk["no_rapid_repeated_error"][0] += 1
                if (
                    prev is not None
                    and prev[1] == "error"
                    and (ts - prev[0]).total_seconds() <= 600
                ):
                    chk["no_rapid_repeated_error"][1] += 1
            elif t == "signup":
                chk["signup_at_most_once"][0] += 1
                seen_signup += 1
                if seen_signup >= 2:
                    chk["signup_at_most_once"][1] += 1
            prev = (ts, t)
    for rule, (n, v) in chk.items():
        assert got[rule]["n_checked"] == n, rule
        assert got[rule]["n_violations"] == v, rule


def test_neyman_allocation_identities(spark, sf_dir):
    """Budget conservation (allocations sum to 1000 under both schemes) and
    Neyman optimality (design effect vs proportional >= 1 by theorem)."""
    from cobalt_duckdb_spark.queries.pipeline import sample_neyman_allocation

    rows = sample_neyman_allocation(spark, sf_dir).collect()
    assert abs(sum(r["n_neyman"] for r in rows) - 1000.0) < 0.1
    assert abs(sum(r["n_proportional"] for r in rows) - 1000.0) < 0.1
    assert all(r["design_effect_vs_prop"] >= 1.0 for r in rows)
    assert all(r["n_neyman"] > 0 for r in rows)


def test_markov_removal_attribution_invariants(spark, sf_dir):
    """Counterfactual sanity: removing any channel can only reduce
    conversion (effect >= 0), full-graph conversion is a probability,
    attribution shares are non-negative and sum to 1, and all four rows
    share the same conv_full."""
    from cobalt_duckdb_spark.queries.events import (
        events_markov_removal_attribution,
    )

    rows = events_markov_removal_attribution(spark, sf_dir).collect()
    assert len(rows) == 4
    fulls = {r["conv_full"] for r in rows}
    assert len(fulls) == 1
    full = fulls.pop()
    assert 0 < full <= 1
    for r in rows:
        assert 0 <= r["conv_removed"] <= full + 1e-9
        assert r["removal_effect"] >= 0
        assert r["attribution"] >= 0
    assert abs(sum(r["attribution"] for r in rows) - 1.0) < 5e-6


def test_round3_late_batch_invariants(spark, sf_dir):
    """Structural invariants across the late round-3 additions — cheap
    cross-checks that each query's semantics hold, complementing their
    DuckDB hash oracles."""
    import math

    from cobalt_duckdb_spark.queries.advanced import orders_item_cf_similarity
    from cobalt_duckdb_spark.queries.events import (
        events_cohort_ltv_curve,
        events_markov_entropy_rate,
    )
    from cobalt_duckdb_spark.queries.graph_analytics import (
        graph_personalized_pagerank_error,
    )
    from cobalt_duckdb_spark.queries.similarity import (
        embedding_knn_hubness_audit,
    )
    from cobalt_duckdb_spark.queries.text import text_ngram_novelty_split
    from cobalt_duckdb_spark.queries.timeseries import (
        events_ohlc_bars,
        events_periodogram_dft,
    )

    # OHLC: low <= open, close <= high; volume >= high
    for r in events_ohlc_bars(spark, sf_dir).collect():
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
        assert r["n_events"] >= 1

    # periodogram: 5 rows, non-negative power, descending
    p = events_periodogram_dft(spark, sf_dir).collect()
    assert len(p) == 5
    powers = [r["power"] for r in p]
    assert powers == sorted(powers, reverse=True)
    assert all(x >= 0 for x in powers)

    # entropy rate: 0 <= h_i <= ln(#states); contributions sum to the rate
    ent = events_markov_entropy_rate(spark, sf_dir).collect()
    n_states = len(ent)
    rate = ent[0]["chain_entropy_rate"]
    assert 0 < rate <= math.log(n_states) + 1e-9
    assert abs(sum(r["contribution"] for r in ent) - rate) < 5e-6
    for r in ent:
        assert 0 <= r["state_entropy_nats"] <= math.log(n_states) + 1e-9

    # PPR: mass ~1, restart state dominates
    ppr = {
        r["event_type"]: r["ppr"]
        for r in graph_personalized_pagerank_error(spark, sf_dir).collect()
    }
    assert abs(sum(ppr.values()) - 1.0) < 0.01
    assert max(ppr, key=ppr.get) == "error"

    # cohort LTV: cumulative per cohort is nondecreasing; buyers <= size
    ltv = events_cohort_ltv_curve(spark, sf_dir).collect()
    by_cohort = {}
    for r in ltv:
        assert r["active_buyers"] <= r["cohort_size"]
        by_cohort.setdefault(r["cohort"], []).append(
            (r["week_offset"], r["cum_ltv_per_user"])
        )
    for series in by_cohort.values():
        vals = [v for _, v in sorted(series)]
        assert vals == sorted(vals)

    # novelty: rates in [0, 1], novel <= n_grams
    for r in text_ngram_novelty_split(spark, sf_dir).collect():
        assert 0.0 <= r["novelty_rate"] <= 1.0
        assert r["novel"] <= r["n_grams"]

    # item CF: cosine in (0, 1], support >= 2, canonical pair order
    for r in orders_item_cf_similarity(spark, sf_dir).collect():
        assert 0 < r["cosine_sim"] <= 1.0
        assert r["n_co"] >= 2
        assert r["part_a"] < r["part_b"]

    # hubness: in-degree bounded by k * n_queries; ranks strictly ordered
    hubs = embedding_knn_hubness_audit(spark, sf_dir).collect()
    degs = [r["in_degree"] for r in hubs]
    assert degs == sorted(degs, reverse=True)
    assert all(d >= 1 for d in degs)


def test_weighted_percentile_matches_numpy_reference(spark, sf_dir):
    """Weighted p50/p90 recomputed in Python by explicit weight expansion
    semantics (first value whose cumulative weight crosses q x total)."""
    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.relational import agg_weighted_percentile

    got = {r["flag"]: r for r in agg_weighted_percentile(spark, sf_dir).collect()}
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    by_flag = {}
    for r in rows:
        by_flag.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], r["l_quantity"])
        )
    for flag, pairs in by_flag.items():
        pairs.sort()
        tw = sum(w for _, w in pairs)
        for q, col in ((0.5, "p50_weighted"), (0.9, "p90_weighted")):
            cw = 0.0
            for x, w in pairs:
                cw += w
                if cw >= q * tw:
                    assert abs(got[flag][col] - round(x, 2)) < 1e-9, (flag, col)
                    break


def test_id_gaps_exactly_planted_holes(spark, sf_dir):
    """Every detected gap is exactly one planted multiple-of-97 id, and
    every in-range multiple of 97 is detected — detector completeness AND
    soundness."""
    from cobalt_duckdb_spark.io import load_table
    from cobalt_duckdb_spark.queries.advanced import dq_id_sequence_gaps

    gaps = dq_id_sequence_gaps(spark, sf_dir).collect()
    ids = [
        r["event_id"]
        for r in load_table(spark, sf_dir, "events").select("event_id").collect()
    ]
    lo, hi = min(ids), max(ids)
    expect = [i for i in range(lo, hi + 1) if i % 97 == 0 and lo < i < hi]
    got = []
    for g in gaps:
        got.extend(range(g["gap_start"], g["gap_end"] + 1))
        assert g["n_missing"] == g["gap_end"] - g["gap_start"] + 1
    assert got == expect


def test_round3_final_batch_invariants(spark, sf_dir):
    """Invariant sweep over the closing round-3 additions."""
    from cobalt_duckdb_spark.queries.advanced import (
        dq_functional_dependency_profile,
        dq_value_drift_psi,
        stats_anova_dow_effect,
        stats_power_analysis_mde,
    )
    from cobalt_duckdb_spark.queries.dedup import dedup_family_size_report
    from cobalt_duckdb_spark.queries.events import events_bot_detection_screen
    from cobalt_duckdb_spark.queries.pipeline import (
        sample_horvitz_thompson_total,
        sample_raking_calibration,
    )
    from cobalt_duckdb_spark.queries.similarity import (
        cluster_purity_nmi_vs_labels,
    )
    from cobalt_duckdb_spark.queries.timeseries import (
        events_mann_kendall_trend,
        events_stl_strength,
    )
    from cobalt_duckdb_spark.queries.tpch_extra import (
        orders_open_aging_buckets,
    )

    r = cluster_purity_nmi_vs_labels(spark, sf_dir).collect()[0]
    assert 0 < r["purity"] <= 1 and 0 <= r["nmi"] <= 1

    r = events_stl_strength(spark, sf_dir).collect()[0]
    assert 0 <= r["seasonal_strength"] <= 1
    assert 0 <= r["trend_strength"] <= 1

    r = stats_anova_dow_effect(spark, sf_dir).collect()[0]
    assert r["f_stat"] > 0 and 0 <= r["eta_squared"] <= 1
    assert r["k_groups"] == 7

    psi = dq_value_drift_psi(spark, sf_dir).collect()
    assert len(psi) == 10
    assert psi[0]["psi_total"] >= 0
    assert abs(sum(p["p_ref"] for p in psi) - 1.0) < 0.01
    assert abs(sum(p["p_cur"] for p in psi) - 1.0) < 0.01

    for r in sample_raking_calibration(spark, sf_dir).collect():
        assert r["n_sampled"] > 0 and r["rel_margin_dev"] >= 0

    bots = events_bot_detection_screen(spark, sf_dir).collect()
    assert all(0 <= r["bot_score"] <= 3 for r in bots)
    scores = [r["bot_score"] for r in bots]
    assert scores == sorted(scores, reverse=True)

    aging = orders_open_aging_buckets(spark, sf_dir).collect()
    assert abs(sum(r["pct_value"] for r in aging) - 100.0) < 0.1

    r = events_mann_kendall_trend(spark, sf_dir).collect()[0]
    assert r["trend_significant"] == (1 if abs(r["mk_z"]) > 1.96 else 0)

    fam = dedup_family_size_report(spark, sf_dir).collect()
    assert abs(sum(r["pct_corpus"] for r in fam) - 1.0) < 0.01
    assert any(r["family_size"] == 1 for r in fam)
    assert all(0 <= r["dedup_drop_rate"] <= 1 for r in fam)

    r = sample_horvitz_thompson_total(spark, sf_dir).collect()[0]
    assert r["rel_error"] < 0.2

    r = stats_power_analysis_mde(spark, sf_dir).collect()[0]
    assert r["mde_abs"] > 0 and r["n_per_arm_for_1pct"] > r["n_a"]

    fd = {r["fd"]: r["holds"] for r in dq_functional_dependency_profile(spark, sf_dir).collect()}
    assert fd["orders.o_orderkey -> o_custkey"] == 1
    assert fd["lineitem.l_orderkey -> l_returnflag"] == 0


def test_round3_closing_wave_invariants(spark, sf_dir):
    """Invariant sweep over the closing-wave queries."""
    import math

    from cobalt_duckdb_spark.queries.events import events_window_funnel_depth
    from cobalt_duckdb_spark.queries.similarity import (
        embedding_isotropy_audit,
        train_triplet_margin_audit,
    )
    from cobalt_duckdb_spark.queries.text import (
        text_heaps_law_fit,
        text_theil_length_inequality,
        text_umass_keyword_coherence,
        text_watermark_greenlist_detect,
    )
    from cobalt_duckdb_spark.queries.timeseries import (
        events_haar_wavelet_energy,
        events_revenue_drawdown,
        events_rolling_beta_24h,
        stats_hill_tail_index,
    )
    from cobalt_duckdb_spark.queries.tpch_extra import (
        lineitem_revenue_waterfall,
        orders_tier_migration_matrix,
    )
    from cobalt_duckdb_spark.queries.advanced import dq_distinct_chao1_estimate

    # watermark null-calibration: |mean_z| small, sd in sane band, no flags
    wm = text_watermark_greenlist_detect(spark, sf_dir).collect()
    assert all(abs(r["mean_z"]) < 1.5 and r["n_flagged"] == 0 for r in wm)

    # hill alpha positive; threshold below max
    r = stats_hill_tail_index(spark, sf_dir).collect()[0]
    assert r["hill_alpha"] > 0 and r["mean_log_excess"] > 0

    # funnel: shares sum to 1, monotone depth counts present
    fn = events_window_funnel_depth(spark, sf_dir).collect()
    assert abs(sum(r["share"] for r in fn) - 1.0) < 0.01

    # waterfall reconciles: last running_total == final_net
    wf = lineitem_revenue_waterfall(spark, sf_dir).collect()
    assert abs(wf[-1]["running_total"] - wf[-1]["final_net"]) < 0.05

    # coherence: both sets present, 45 pairs each, finite scores
    co = text_umass_keyword_coherence(spark, sf_dir).collect()
    assert {r["keyword_set"] for r in co} == {"top_df", "top_burstiness"}
    assert all(r["n_pairs"] == 45 and math.isfinite(r["umass_coherence"]) for r in co)

    # triplet margins: bounded in [-2, 2]; violations <= anchors
    tm = train_triplet_margin_audit(spark, sf_dir).collect()
    for r in tm:
        assert -2 <= r["min_margin"] <= r["mean_margin"] <= 2
        assert r["n_margin_violations"] <= r["n_anchors"]

    # drawdown in [0, 1]; days-below <= n_days
    r = events_revenue_drawdown(spark, sf_dir).collect()[0]
    assert 0 <= r["mean_drawdown"] <= r["max_drawdown"] <= 1
    assert r["days_below_90pct_peak"] <= r["n_days"]

    # haar: 4 levels, non-negative energies
    hw = events_haar_wavelet_energy(spark, sf_dir).collect()
    assert [r["level"] for r in hw] == [1, 2, 3, 4]
    assert all(r["mean_sq_detail"] >= 0 for r in hw)

    # migration: row shares sum to 1 per tier_h1
    mm = orders_tier_migration_matrix(spark, sf_dir).collect()
    rows = {}
    for r in mm:
        rows.setdefault(r["tier_h1"], 0.0)
        rows[r["tier_h1"]] += r["row_share"]
    assert all(abs(v - 1.0) < 0.01 for v in rows.values())

    # rolling beta defined on full windows only
    rb = events_rolling_beta_24h(spark, sf_dir).collect()
    assert all(r["beta_24h"] is not None for r in rb)

    # chao1 >= observed distinct; estimate within 2x of truth here
    r = dq_distinct_chao1_estimate(spark, sf_dir).collect()[0]
    assert r["chao1_estimate"] >= r["d_observed"]
    assert r["chao1_estimate"] < 2 * r["true_distinct"]

    # theil decomposition: parts sum to total; all non-negative
    r = text_theil_length_inequality(spark, sf_dir).collect()[0]
    assert abs(r["theil_within"] + r["theil_between"] - r["theil_total"]) < 1e-5
    assert r["theil_within"] >= 0 and r["theil_total"] > 0

    # heaps: saturation diagnostic in (0, 1]; k positive
    r = text_heaps_law_fit(spark, sf_dir).collect()[0]
    assert 0 < r["half_corpus_vocab_ratio"] <= 1.0
    assert r["heaps_k"] > 0

    # isotropy: near-zero avg pairwise cosine on healthy space
    r = embedding_isotropy_audit(spark, sf_dir).collect()[0]
    assert abs(r["avg_pairwise_cosine"]) < 0.05


def test_pagerank_degenerate_reset_inputs(spark):
    """A personalized PageRank whose seed is not a node has zero restart
    mass: it degrades to the uniform restart (the oracle's ``rnorm``
    fallback) — on a cycle, uniform ranks summing to 1 — instead of
    emitting null/NaN or a <1-mass vector."""
    from cobalt_duckdb_spark.queries.graph_analytics import _pagerank

    cycle = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)], "i STRING, j STRING, n BIGINT"
    )
    ranks = {r["node"]: r["rank"] for r in _pagerank(cycle, seed="zzz").collect()}
    assert sorted(ranks) == ["a", "b", "c"]
    assert all(v is not None and v == v for v in ranks.values()), ranks
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert max(ranks.values()) - min(ranks.values()) < 1e-9


def test_pagerank_narrow_gate(spark):
    """The single-partition narrowing of the loop frames is GATED on the
    checkpointed edge table's width, not assumed: with AQE partition
    coalescing off the table keeps the cores' width and the operator runs
    its distributed branch (no Coalesce in the plan), and both branches
    return the same ranks."""
    from cobalt_duckdb_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["src", "dst"]
    )

    def run():
        ranks = pagerank(edges, iterations=5)
        plan = ranks._jdf.queryExecution().executedPlan().toString()
        return {r["node"]: r["rank"] for r in ranks.collect()}, "Coalesce 1" in plan

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    auto, auto_narrow = run()
    spark.conf.set(key, "false")
    try:
        wide, wide_narrow = run()
    finally:
        spark.conf.set(key, before)
    assert auto_narrow and not wide_narrow
    assert set(auto) == set(wide) == {"a", "b", "c"}
    for n in auto:
        assert abs(auto[n] - wide[n]) < 1e-12, (n, auto[n], wide[n])


# A hand-built 4-node transition graph: d has no in-edges, a has a
# self-loop, and every node has out-edges.
_G4 = [("a", "a", 1), ("a", "b", 2), ("b", "c", 3), ("c", "a", 1),
       ("c", "b", 1), ("d", "a", 4), ("d", "c", 1)]


def _g4(spark):
    import numpy as np

    counts = spark.createDataFrame(_G4, "i STRING, j STRING, n BIGINT")
    A = np.zeros((4, 4))
    for i, j, n in _G4:
        A["abcd".index(i), "abcd".index(j)] = n
    return counts, A


def test_vecmat_and_pagerank_match_numpy(spark):
    """The one-row vector–matrix product equals numpy's v·A, with the
    column nothing reaches (d) absent rather than 0; PageRank and a
    personalized PageRank seeded at d equal a numpy power iteration —
    all to 1e-12."""
    import numpy as np

    from cobalt_duckdb_spark.functions.matrix import dense, vecmat
    from cobalt_duckdb_spark.queries.graph_analytics import (
        _PR_DAMPING,
        _PR_ITERS,
        _pagerank,
    )

    counts, A = _g4(spark)
    v = [0.1, 0.2, 0.3, 0.4]
    m = dense(counts.select("i", "j", F.col("n").cast("double").alias("p")))
    got = m.select(
        vecmat(F.array(*map(F.lit, v)), F.col("cells"), F.size("labels")).alias("x")
    ).collect()[0]["x"]
    want = np.array(v) @ A
    assert got[3] is None
    for g, w in zip(got[:3], want[:3]):
        assert abs(g - w) < 1e-12, (got, want)

    P, d = A / A.sum(axis=1, keepdims=True), _PR_DAMPING

    def power(t):
        r = t.copy()
        for _ in range(_PR_ITERS):
            r = (1 - d) * t + d * (r @ P)
        return r

    for seed, t in ((None, np.full(4, 0.25)), ("d", np.eye(4)[3])):
        ranks = {r["node"]: r["rank"] for r in _pagerank(counts, seed).collect()}
        assert sorted(ranks) == list("abcd")
        for node, w in zip("abcd", power(t)):
            assert abs(ranks[node] - w) < 1e-12, (seed, node, ranks[node], w)


def test_hits_matches_numpy(spark):
    """HITS equals numpy's alternating a = Aᵀh, h = A·a with L2
    normalization each half-step, to 1e-12; d, with no in-edge, has
    authority 0."""
    import numpy as np

    from cobalt_duckdb_spark.queries.selection import _HITS_ITERS, _hits

    counts, A = _g4(spark)
    h = np.ones(4)
    for _ in range(_HITS_ITERS):
        a = A.T @ h
        a /= np.linalg.norm(a)
        h = A @ a
        h /= np.linalg.norm(h)
    got = {r["node"]: r for r in _hits(counts).collect()}
    assert sorted(got) == list("abcd")
    assert got["d"]["authority"] == 0.0
    for x, node in enumerate("abcd"):
        assert abs(got[node]["hub"] - h[x]) < 1e-12, (node, got[node], h)
        assert abs(got[node]["authority"] - a[x]) < 1e-12, (node, got[node], a)


def test_ppr_with_absent_seed_is_classic_pagerank(spark):
    """Personalized PageRank seeded at a label that is not a node restarts
    uniformly, which is classic PageRank."""
    from cobalt_duckdb_spark.queries.graph_analytics import _pagerank

    counts, _ = _g4(spark)
    classic = {r["node"]: r["rank"] for r in _pagerank(counts).collect()}
    absent = {r["node"]: r["rank"] for r in _pagerank(counts, "zzz").collect()}
    assert sorted(classic) == sorted(absent) == list("abcd")
    for n in classic:
        assert abs(classic[n] - absent[n]) < 1e-12, (n, classic[n], absent[n])


def test_selection_pack_semantic_invariants(spark, sf_dir):
    """Engine-independent mathematical invariants of the round-4 selection
    pack, cross-checking semantics beyond the DuckDB hash oracles."""
    from cobalt_duckdb_spark.queries.selection import (
        dedup_bloom_prefilter_audit,
        embedding_rptree_partition_audit,
        events_activity_streak_islands,
        events_piecewise_trend_knots,
        graph_hits_hubs_authorities,
        hybrid_alpha_blend_curve,
        mix_doremi_proxy_reweight,
        pipeline_quality_calibration_ece,
        pipeline_token_budget_allocator,
        sample_coreset_kcenter_greedy,
        text_backoff_bigram_perplexity,
    )

    # k-center: farthest-point distances are non-increasing as the set grows
    kc = sample_coreset_kcenter_greedy(spark, sf_dir).collect()
    assert [r["sel_rank"] for r in kc] == list(range(len(kc)))
    dists = [r["dist_to_set"] for r in kc[1:]]
    assert all(d >= 0 for d in dists)
    assert all(a >= b - 1e-9 for a, b in zip(dists, dists[1:])), dists

    # HITS: both vectors L2-normalized, entries non-negative
    hits = graph_hits_hubs_authorities(spark, sf_dir).collect()
    for col in ("hub", "authority"):
        vals = [r[col] for r in hits]
        assert all(v >= 0 for v in vals)
        assert abs(sum(v * v for v in vals) - 1.0) < 1e-3, (col, vals)

    # Bloom: NO false negatives — every true dup is flagged
    bl = dedup_bloom_prefilter_audit(spark, sf_dir).collect()[0]
    assert bl["flagged_docs"] >= bl["true_dups"]
    assert bl["false_positives"] == bl["flagged_docs"] - bl["true_dups"]
    assert 0 <= bl["predicted_fp_rate"] <= 1

    # DoReMi: both the base and reweighted mixtures sum to 1
    dm = mix_doremi_proxy_reweight(spark, sf_dir).collect()
    assert abs(sum(r["base_share"] for r in dm) - 1.0) < 1e-4
    assert abs(sum(r["doremi_share"] for r in dm) - 1.0) < 1e-4

    # Budget allocator: spends most of — but never exceeds — the budget
    from cobalt_duckdb_spark.io import load_table
    from pyspark.sql import functions as F

    total_toks = (
        load_table(spark, sf_dir, "documents")
        .agg(F.sum(F.size(F.split("text", " "))))
        .collect()[0][0]
    )
    budget = int(total_toks * 0.2)
    alloc = pipeline_token_budget_allocator(spark, sf_dir).collect()
    spent = sum(r["admitted_tokens"] for r in alloc)
    assert 0 < spent <= budget
    assert spent >= budget * 0.8  # boundary-bucket fill gets close

    # streaks: start <= end and length matches the day span
    st = events_activity_streak_islands(spark, sf_dir).collect()
    assert st
    from datetime import date

    for r in st:
        d0 = date.fromisoformat(r["streak_start"])
        d1 = date.fromisoformat(r["streak_end"])
        assert (d1 - d0).days + 1 == r["streak_days"]

    # piecewise OLS: R^2 in [0, 1]
    for r in events_piecewise_trend_knots(spark, sf_dir).collect():
        assert -1e-9 <= r["r2"] <= 1 + 1e-9

    # calibration: ECE and Brier in [0, 1]; bins cover the corpus
    cal = pipeline_quality_calibration_ece(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n"] for r in cal) == n_docs
    assert 0 <= cal[0]["ece"] <= 1 and 0 <= cal[0]["brier"] <= 1

    # backoff LM: a probability model gives perplexity > 1
    for r in text_backoff_bigram_perplexity(spark, sf_dir).collect():
        assert r["perplexity"] > 1 and r["cross_entropy_nats"] > 0

    # RP-tree: median splits keep the four leaves balanced
    leaves = embedding_rptree_partition_audit(spark, sf_dir).collect()
    sizes = [r["n_vectors"] for r in leaves]
    assert len(sizes) == 4 and max(sizes) - min(sizes) <= 2, sizes

    # alpha blend: alpha=1.0 ranking must equal the dense leg's own top-5
    bc = hybrid_alpha_blend_curve(spark, sf_dir).collect()
    assert len(bc) == 25
    dense_top = [r["doc_id"] for r in bc if r["alpha"] == 1.0]
    from cobalt_duckdb_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    brute = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), "qv"), 6
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
        .collect()
    )
    assert dense_top == [r["vec_id"] for r in brute]


# ---------------------------------------------------------------------------
# range_frame_window_bucketed: exact equivalence to the plain window
# ---------------------------------------------------------------------------


def _bucketed_window_case(spark, lo, hi, width):
    import random

    from cobalt_duckdb_spark.operators.windows import (
        range_frame_window_bucketed,
    )

    rng = random.Random(hash((lo, hi, width)) & 0xFFFF)
    # hottest key owns ~half the rows; order values cluster so frames span
    # bucket boundaries both sparsely and densely
    rows = [
        (
            1 if rng.random() < 0.5 else rng.randrange(2, 8),
            rng.randrange(-5000, 5000),
            i,
        )
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "k BIGINT, o BIGINT, rid BIGINT")
    aggs = {
        "n": lambda w: F.count(F.lit(1)).over(w).cast("bigint"),
        "s": lambda w: F.sum("o").over(w).cast("bigint"),
    }
    got = range_frame_window_bucketed(
        df, ["k"], F.col("o"), lo, hi, aggs, bucket_width=width
    )
    w = Window.partitionBy("k").orderBy("o").rangeBetween(lo, hi)
    want = df.select("*", *[fn(w).alias(name) for name, fn in aggs.items()])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_range_frame_window_bucketed_trailing(spark):
    _bucketed_window_case(spark, lo=-700, hi=0, width=700)


def test_range_frame_window_bucketed_symmetric_wide_bucket(spark):
    _bucketed_window_case(spark, lo=-300, hi=300, width=1500)


def test_range_frame_window_bucketed_rejects_narrow_bucket(spark):
    from cobalt_duckdb_spark.operators.windows import (
        range_frame_window_bucketed,
    )

    df = spark.range(1).select(F.lit(1).alias("k"), F.col("id").alias("o"))
    with pytest.raises(ValueError, match="bucket_width"):
        range_frame_window_bucketed(
            df, ["k"], F.col("o"), -10, 10, {}, bucket_width=5
        )
    with pytest.raises(ValueError, match="straddle"):
        range_frame_window_bucketed(
            df, ["k"], F.col("o"), 5, 10, {}, bucket_width=100
        )


def test_asof_join_matches_pandas_on_spark_merge_asof(spark):
    """API-parity pin for the COVERAGE.md freeze-rule candidate (r8 verdict
    stretch 7): ``operators.joins.asof_join`` must agree row-for-row with
    ``pyspark.pandas.merge_asof`` (direction='backward', by=key) on a
    real-world slice. Pinned as a TEST, not a registry query: the pandas-
    on-Spark implementation plans a BroadcastNestedLoopJoin candidate
    expansion (distinct left timestamps x right rows, measured r9), which
    is exactly the all-pairs shape the audited operator avoids — API
    semantics are worth pinning, the plan is not worth benching. Both
    sides run the events slice at sf0.001.
    """
    import pyspark.pandas as ps

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    ours = {
        r["event_id"]: (r["asof_click_id"], r["asof_click_ts"])
        for r in asof_join(
            errors,
            clicks,
            on="user_id",
            left_time="ts",
            right_time="ts",
            right_values=["click_id", "click_ts"],
        ).collect()
    }
    theirs_df = ps.merge_asof(
        errors.pandas_api().sort_values("ts"),
        clicks.pandas_api().sort_values("ts"),
        on="ts",
        by="user_id",
        direction="backward",
        suffixes=("", "_r"),
    ).to_spark()
    theirs = {
        r["event_id"]: (r["click_id"], r["click_ts"])
        for r in theirs_df.collect()
    }
    assert set(ours) == set(theirs)
    mismatches = {k: (ours[k], theirs[k]) for k in ours if ours[k] != theirs[k]}
    assert not mismatches, f"{len(mismatches)} rows diverge: {list(mismatches.items())[:3]}"
