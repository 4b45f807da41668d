"""Multimodal pack: binary-column stats (JVM-side, oracle-checked) and the
mapInPandas feature-extraction pipeline (rows-only — Python decode stub).
The media table is synthesized deterministically from documents (no real
codecs/files in this environment); the Spark plumbing is the real thing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobalt_duckdb_spark.functions.exact import (
    exact_round_avg,
    exact_round_avg_int,
    exact_round_avg_int_sql,
    exact_round_avg_sql,
    exact_round_ratio,
    exact_round_ratio_sql,
)
from cobalt_duckdb_spark.io import load_table
from cobalt_duckdb_spark.operators.multimodal import (
    binary_stats,
    extract_features,
    synth_media_from_documents,
)
from cobalt_duckdb_spark.ordering import sort_result
from cobalt_duckdb_spark.queries import register


@register(
    "multimodal_binary_stats",
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               encode(text) AS blob,
               md5(text) AS content_hash
        FROM documents
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_blobs,
           CAST(SUM(octet_length(blob)) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(blob)) AS BIGINT) AS max_bytes,
           CAST(COUNT(DISTINCT content_hash) AS BIGINT) AS n_distinct
    FROM media GROUP BY kind ORDER BY kind
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over opaque blobs — everything JVM-side
    (octet length, md5) so no decode is needed to audit a 100 TB media lake."""
    media = synth_media_from_documents(load_table(spark, sf_dir, "documents"))
    stats = binary_stats(media)
    return (
        stats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
            F.countDistinct("content_hash").alias("n_distinct"),
        )
        .transform(sort_result, "kind")
    )


@register(
    "multimodal_feature_extract",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash, /* md5(VARCHAR) hashes UTF-8 bytes ==
                                         hashlib.md5(blob) over encode(text) */
           CAST(8 AS BIGINT) AS feature_dim,
           'stub-decoder' AS feature_note
    FROM documents
    ORDER BY media_id
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode/feature pipeline (stub decoder — the Arrow batch
    shape, lazy singleton and output schema are the real distributed
    plumbing). The stub decoder is deterministic byte math over the UTF-8
    blob, so the observable outputs ARE oracle-expressible: n_bytes =
    octet_length(encode(text)), content_hash = md5 of the same bytes,
    feature_dim = constant 8 (operators/multimodal.py:_decode_fake always
    returns 8 features). The differential gate now checks the mapInPandas
    path end-to-end instead of counting rows."""
    media = synth_media_from_documents(load_table(spark, sf_dir, "documents"))
    return extract_features(media).transform(sort_result, "media_id")


@register(
    "multimodal_frame_sample_plan",
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id, octet_length(encode(text)) AS n
        FROM documents WHERE doc_id % 3 = 2
    ),
    offsets AS (
        SELECT media_id, unnest(range(0, n, 1024)) AS byte_offset FROM media
    )
    SELECT media_id, CAST(byte_offset AS BIGINT) AS byte_offset
    FROM offsets ORDER BY media_id, byte_offset
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (SURVEY.md multimodal pack): emit the
    (media_id, byte_offset) sample points a real decoder would seek — the
    sampling plan itself is a pure JVM sequence+explode row multiplier, so
    planning 100 TB of video costs a map-only scan of blob lengths; only
    decoding the sampled offsets is expensive (and stubbed here, like all
    codec work in this container)."""
    media = synth_media_from_documents(load_table(spark, sf_dir, "documents"))
    from cobalt_duckdb_spark.operators.multimodal import frame_sample_plan

    return (
        frame_sample_plan(media, every_n_bytes=1024)
        .select("media_id", F.col("byte_offset").cast("bigint").alias("byte_offset"))
        .transform(sort_result, "media_id", "byte_offset")
    )


def _md5_vec_sql(expr: str) -> str:
    """8-dim deterministic 'embedding' from an md5 hex digest (DuckDB)."""
    comps = ", ".join(
        f"(('0x' || substr(md5({expr}), {2 * i + 1}, 2))::BIGINT) / 255.0"
        for i in range(8)
    )
    return f"[{comps}]"


@register(
    "multimodal_crossmodal_stub_topk",
    oracle=f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               CAST({_md5_vec_sql('text')} AS DOUBLE[]) AS mvec
        FROM documents
    ),
    q AS (
        SELECT doc_id AS query_id,
               CAST({_md5_vec_sql("'query:' || text")} AS DOUBLE[]) AS qvec
        FROM documents WHERE doc_id IN (0, 1, 2)
    ),
    scored AS (
        SELECT q.query_id, m.media_id, m.kind,
               ROUND(list_cosine_similarity(m.mvec, q.qvec), 6) AS score
        FROM media m CROSS JOIN q
        WHERE m.kind = 'image'
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, media_id,
           score
    FROM (
        SELECT query_id, media_id, score,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, media_id
               ) AS rn
        FROM scored
    ) WHERE rn <= 3
    ORDER BY query_id, rank
    """,
)
def multimodal_crossmodal_stub_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval plumbing: text queries against an IMAGE
    embedding index — the CLIP-retrieval shape (encode each modality into
    a shared vector space, cosine top-k across modalities, modality filter
    pushed BEFORE any distance work). The encoders here are deterministic
    md5-derived 8-dim stubs so the full distributed pipeline — per-modality
    encode, broadcast query batch, filtered scan, per-query top-k — is
    differentially testable end-to-end; swapping the stub for a real CLIP
    model is exactly the `make_embedder_udf` pattern (lazy per-executor
    singleton), changing no plan shape."""
    docs = load_table(spark, sf_dir, "documents")

    def md5_vec(col):
        h = F.md5(col)
        return F.array(
            *[
                (
                    F.conv(F.substring(h, 2 * i + 1, 2), 16, 10).cast(
                        "double"
                    )
                    / 255.0
                )
                for i in range(8)
            ]
        )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        md5_vec(F.col("text")).alias("mvec"),
    ).filter(F.col("kind") == "image")
    q = docs.filter(F.col("doc_id").isin(0, 1, 2)).select(
        F.col("doc_id").alias("query_id"),
        md5_vec(F.concat(F.lit("query:"), F.col("text"))).alias("qvec"),
    )
    from pyspark.sql import Window
    from cobalt_duckdb_spark.functions.vector import cosine_similarity

    scored = media.crossJoin(F.broadcast(q)).select(
        "query_id",
        "media_id",
        F.round(cosine_similarity("mvec", "qvec"), 6).alias("score"),
    )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("media_id")
        )
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= 3)
        .select("query_id", F.col("rank").cast("bigint").alias("rank"),
                "media_id", "score")
        .transform(sort_result, "query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Perceptual (average-hash) near-duplicate detection over stub-decoded media
# ---------------------------------------------------------------------------

_AHASH_MAX_HAMMING = 11


@register(
    "multimodal_ahash_neardup_pairs",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, n_chars // 64 AS len_bucket,
               list_transform(range(0, 64), i ->
                   ascii(substr(text,
                       1 + CAST(floor(i * (n_chars - 1) / 63.0) AS BIGINT),
                       1))) AS pixels
        FROM documents
    ),
    h AS (
        SELECT doc_id, len_bucket,
               CAST(list_sum(list_transform(range(0, 32), i ->
                   CASE WHEN pixels[i + 1] >= list_avg(pixels)
                        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
                    AS BIGINT) AS w0,
               CAST(list_sum(list_transform(range(32, 64), i ->
                   CASE WHEN pixels[i + 1] >= list_avg(pixels)
                        THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END))
                    AS BIGINT) AS w1
        FROM px
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.w0, b.w0))
                + bit_count(xor(a.w1, b.w1)) AS BIGINT) AS hamming
    FROM h a JOIN h b
      ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
          <= {_AHASH_MAX_HAMMING}
    ORDER BY hamming, doc_a, doc_b
    """,
)
def multimodal_ahash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection — the image-dedup shape
    (aHash/pHash: resize to a fixed grid, threshold against the mean,
    compare 64-bit signatures by Hamming distance) run over stub-decoded
    media. The 'decode + resize' stage is deterministic and
    locality-preserving: 64 'pixels' are the character codes sampled at 64
    evenly-spaced positions of the document body (exactly what an image
    resize does to a raster — and unlike an md5 stub, structurally similar
    inputs get similar signatures, so the near-dup semantics are real, not
    vacuous). Swapping in a true image decoder changes ONE map stage
    (`operators/multimodal.py` mapInPandas) and nothing downstream.

    Plan: signature extraction is map-only codegen (no Python, no
    shuffle); candidate generation blocks on a length bucket (the size
    prefilter every production pHash dedup uses — only media of similar
    size compare), so the join is a bucket-keyed shuffle, never all-pairs;
    the Hamming predicate is two XOR+popcounts pushed into the join
    filter. At 100 TB: 8-byte signatures instead of raster bytes flow
    into the shuffle, and per-bucket pair counts bound task memory the
    same way `dedup_simhash_pairs`' length blocking does."""
    docs = load_table(spark, sf_dir, "documents")
    pixels = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.ascii(
            F.substring(
                F.col("text"),
                (
                    F.lit(1)
                    + F.floor(
                        i * (F.col("n_chars") - 1) / F.lit(63.0)
                    )
                ).cast("int"),
                1,
            )
        ),
    )
    px = docs.select(
        "doc_id",
        (F.col("n_chars") / 64).cast("bigint").alias("len_bucket"),
        pixels.alias("pixels"),
    ).withColumn(
        "avg_px",
        F.aggregate(
            "pixels", F.lit(0.0), lambda s, x: s + x
        )
        / F.size("pixels"),
    )

    def word(lo: int) -> F.Column:
        return F.expr(
            f"""aggregate(transform(sequence(0, 31), i ->
                    IF(element_at(pixels, CAST(i + {lo} + 1 AS INT)) >= avg_px,
                       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
                CAST(0 AS BIGINT), (a, x) -> a + x)"""
        )

    # localCheckpoint pins the 4-column signature frame. Without it,
    # CollapseProject folds px into this projection and substitutes the
    # 64-substring `pixels` expression into `avg_px` and then BOTH word()
    # lambdas — the interpreted-HOF tree re-evaluates the whole pixel
    # array per element (measured 147 s vs 0.7 s at sf0.1). Signatures
    # are 32 bytes/doc, so materializing is the scale-correct layout too
    # (`SCALE.md`: signature frames are materialized, rasters are not).
    h = px.select(
        "doc_id", "len_bucket", word(0).alias("w0"), word(32).alias("w1")
    ).localCheckpoint()
    a, b = h.alias("a"), h.alias("b")
    hamming = (
        F.bit_count(F.col("a.w0").bitwiseXOR(F.col("b.w0")))
        + F.bit_count(F.col("a.w1").bitwiseXOR(F.col("b.w1")))
    ).cast("bigint")
    return (
        a.join(
            b,
            (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _AHASH_MAX_HAMMING)
        .transform(sort_result, "hamming", "doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Scene-cut detection over stub-decoded video frames
# ---------------------------------------------------------------------------

_CUT_FRAMES = 8
_CUT_BITS = 8
_CUT_THRESHOLD = 5


@register(
    "multimodal_scene_cut_stub",
    oracle=f"""
    WITH media AS (
        SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 3 = 2
    ),
    px AS (
        SELECT doc_id, f.f, i.i,
               ascii(substr(text,
                   1 + CAST(floor((f.f * {_CUT_BITS} + i.i) * (n_chars - 1)
                                  / 63.0) AS BIGINT),
                   1)) AS v
        FROM media
        CROSS JOIN (SELECT unnest(range(0, {_CUT_FRAMES})) AS f) f
        CROSS JOIN (SELECT unnest(range(0, {_CUT_BITS})) AS i) i
    ),
    sig AS (
        SELECT doc_id, f,
               CAST(SUM(CASE WHEN v >= fav THEN (1 << i) ELSE 0 END)
                    AS BIGINT) AS h
        FROM (SELECT doc_id, f, i, v,
                     AVG(v) OVER (PARTITION BY doc_id, f) AS fav
              FROM px)
        GROUP BY doc_id, f
    ),
    cuts AS (
        SELECT doc_id,
               bit_count(xor(h, lag(h) OVER (
                   PARTITION BY doc_id ORDER BY f))) AS d
        FROM sig
    )
    SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_media,
           {exact_round_avg_int_sql('d', 4, 0)} AS mean_frame_delta,
           CAST(SUM(CASE WHEN d >= {_CUT_THRESHOLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts,
           {exact_round_ratio_sql(
               f'SUM(CASE WHEN d >= {_CUT_THRESHOLD} THEN 1 ELSE 0 END)',
               'COUNT(DISTINCT doc_id)', 4)} AS cuts_per_media
    FROM cuts WHERE d IS NOT NULL
    """,
)
def multimodal_scene_cut_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection — the video-curation primitive (sample frames,
    hash each, flag consecutive-frame signature jumps): 8 'frames' are
    sampled from successive eighths of the stub-decoded byte stream, each
    frame collapses to an 8-bit average-hash, and a cut is a
    frame-to-frame Hamming jump >= 5/8. The temporal sibling of
    `multimodal_ahash_neardup_pairs` (same locality-preserving stub
    decode, same threshold-vs-mean hashing — ACROSS media there, WITHIN
    media here); a real pipeline swaps the decode stage for actual frame
    extraction (`multimodal_frame_sample_plan` is the byte-offset
    planner) and keeps this plan intact. Cut statistics feed sampling
    policy: frame-sample densely near cuts, sparsely in static scenes.

    Plan: frame/pixel axes are tiny broadcast cross joins; per-frame
    hashing is one keyed aggregate over the (media x frames x bits)
    frame; cut detection is a lag window per media. No pair joins —
    temporal comparison is linear in media count."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") % 3 == 2).select(
        "doc_id", "text", "n_chars"
    )
    frames = spark.range(_CUT_FRAMES).select(F.col("id").cast("int").alias("f"))
    bits = spark.range(_CUT_BITS).select(F.col("id").cast("int").alias("i"))
    px = (
        media.crossJoin(F.broadcast(frames))
        .crossJoin(F.broadcast(bits))
        .select(
            "doc_id",
            "f",
            "i",
            F.ascii(
                F.substring(
                    F.col("text"),
                    (
                        F.lit(1)
                        + F.floor(
                            (F.col("f") * _CUT_BITS + F.col("i"))
                            * (F.col("n_chars") - 1)
                            / F.lit(63.0)
                        )
                    ).cast("int"),
                    1,
                )
            ).alias("v"),
        )
    )
    fav = F.avg("v").over(Window.partitionBy("doc_id", "f"))
    sig = (
        px.withColumn("fav", fav)
        .groupBy("doc_id", "f")
        .agg(
            F.sum(
                F.when(
                    F.col("v") >= F.col("fav"),
                    F.expr("shiftleft(1, i)"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("h")
        )
    )
    d = F.bit_count(
        F.col("h").bitwiseXOR(
            F.lag("h").over(Window.partitionBy("doc_id").orderBy("f"))
        )
    )
    cuts = sig.select("doc_id", d.alias("d")).filter(F.col("d").isNotNull())
    # int/int means can sit exactly on 4-dp half-way points, where double
    # ROUND is engine-dependent — exact integer rounding (functions/exact.py)
    return cuts.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_media"),
        exact_round_avg_int(F.col("d"), 4, 0).alias("mean_frame_delta"),
        F.sum(F.when(F.col("d") >= _CUT_THRESHOLD, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cuts"),
        exact_round_ratio(
            F.sum(F.when(F.col("d") >= _CUT_THRESHOLD, 1).otherwise(0)),
            F.countDistinct("doc_id"),
            4,
        ).alias("cuts_per_media"),
    )
