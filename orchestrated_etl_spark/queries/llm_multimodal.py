"""Multimodal-column queries (north-star extension): opaque binary payloads
with typed metadata, JVM-side metadata extraction, and the Arrow-batched
mapInPandas decode path (deterministic fake decoder — see
functions/multimodal.py; the oracle reproduces it from md5 nibbles)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.functions import multimodal as M
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# binary payload + JVM-side metadata (no Python anywhere)
# ---------------------------------------------------------------------------


def _binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.binary_metadata(docs, "doc_id", M.to_binary("text"))


register(
    "mm_binary_metadata",
    _binary_meta,
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
           md5(text) AS digest,
           lower(hex(encode(substr(text, 1, 4)))) AS magic_hex
    FROM documents
    """,
)

# ---------------------------------------------------------------------------
# mapInPandas decode stage (Arrow batches; fake decoder, real plumbing)
# ---------------------------------------------------------------------------


def _decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", M.to_binary("text").alias("media"))
    return M.decoded_metadata(payload, "doc_id", "media")


register(
    "mm_decode_stub",
    _decoded,
    """
    WITH d AS (
        SELECT doc_id,
               octet_length(encode(text)) AS byte_len,
               md5(text) AS digest
        FROM documents
    )
    SELECT doc_id,
           CAST(byte_len AS BIGINT) AS byte_len,
           digest,
           CAST(16 * (strpos('0123456789abcdef', substr(digest, 1, 1))) AS INTEGER) AS width,
           CAST(16 * (strpos('0123456789abcdef', substr(digest, 2, 1))) AS INTEGER) AS height,
           CAST(strpos('0123456789abcdef', substr(digest, 3, 1)) AS INTEGER) AS n_frames
    FROM d
    """,
)

# ---------------------------------------------------------------------------
# frame-sampling plumbing (sequence + explode over decoded n_frames)
# ---------------------------------------------------------------------------


def _frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", M.to_binary("text").alias("media"))
    decoded = M.decoded_metadata(payload, "doc_id", "media")
    return M.frame_sample(decoded, "doc_id", "n_frames", 4)


register(
    "mm_frame_sample",
    _frames,
    """
    WITH d AS (
        SELECT doc_id,
               strpos('0123456789abcdef', substr(md5(text), 3, 1)) AS n_frames
        FROM documents
    )
    SELECT doc_id, CAST(unnest(range(0, n_frames, 4)) AS INTEGER) AS frame_idx
    FROM d
    """,
)

# ---------------------------------------------------------------------------
# resize stub (aspect-preserving integer fit into 256×256)
# ---------------------------------------------------------------------------


def _resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", M.to_binary("text").alias("media"))
    return M.resized_metadata(payload, "doc_id", "media", target=256)


register(
    "mm_resize_stub",
    _resized,
    """
    WITH d AS (
        SELECT doc_id, md5(text) AS digest FROM documents
    ),
    dims AS (
        SELECT doc_id,
               16 * strpos('0123456789abcdef', substr(digest, 1, 1)) AS w,
               16 * strpos('0123456789abcdef', substr(digest, 2, 1)) AS h
        FROM d
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(CASE WHEN greatest(w, h) > 256
                     THEN (w * 256) // greatest(w, h) ELSE w END AS INTEGER) AS out_w,
           CAST(CASE WHEN greatest(w, h) > 256
                     THEN (h * 256) // greatest(w, h) ELSE h END AS INTEGER) AS out_h,
           CAST(CASE WHEN greatest(w, h) > 256 THEN 1 ELSE 0 END AS INTEGER) AS resized
    FROM dims
    """,
)

# ---------------------------------------------------------------------------
# feature-extract stub → similarity search (the multimodal→ANN composition)
# ---------------------------------------------------------------------------


def _fake_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media payloads → (stub) embeddings → exact cosine top-3 for every
    50th doc: the full multimodal feature-extraction → similarity-search
    composition with the model stubbed and every other part real."""
    from orchestrated_etl_spark.functions import similarity as SIM

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", M.to_binary("text").alias("media"))
    emb = M.fake_embeddings(payload, "doc_id", "media", dim=8)
    queries = emb.filter(F.col("doc_id") % 50 == 0)
    return SIM.brute_force_topk(queries, emb, "doc_id", "embedding", 3)


register(
    "mm_fake_embed_topk",
    _fake_embed_topk,
    """
    WITH e AS (
        SELECT doc_id,
               list_transform(range(1, 9),
                   j -> (strpos('0123456789abcdef',
                                substr(md5(text), CAST(j AS INTEGER), 1)) - 1)
                        / 15.0) AS embedding
        FROM documents
    ),
    scored AS (
        SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
               round(list_dot_product(q.embedding, c.embedding)
                     / (sqrt(list_dot_product(q.embedding, q.embedding))
                        * sqrt(list_dot_product(c.embedding, c.embedding))), 6)
                   AS cosine
        FROM e q JOIN e c ON q.doc_id != c.doc_id
        WHERE q.doc_id % 50 = 0
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
)


# ---------------------------------------------------------------------------
# scene-cut detection (frame-difference energy over sampled frames)
# ---------------------------------------------------------------------------


def _scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection, STUB features / real pipeline shape:
    every frame of each fake-decoded video gets a deterministic 4-dim
    feature vector (md5 nibbles of digest+frame index — stands in for a
    per-frame histogram/embedding a real decoder would emit), and a cut
    is declared where the L1 frame-to-frame difference ≥ 24 (the
    classic frame-difference-energy detector). L1 over integer features
    keeps the whole operator EXACT — no division, no float policy.

    Pipeline shape is production-real: decode → per-frame explode
    (sequence, JVM-side) → lag window partitioned by video → threshold
    → per-video rollup. One shuffle on doc_id shared by the window and
    the aggregate; per-frame features are scan-stage expressions, so a
    100 TB frame table never re-shuffles for feature computation."""
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", M.to_binary("text").alias("media"))
    decoded = M.decoded_metadata(payload, "doc_id", "media")
    frames = decoded.select(
        "doc_id",
        "digest",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(1))
        ).alias("frame_idx"),
    )
    fh = F.md5(
        F.concat_ws("-", F.col("digest"), F.col("frame_idx")).cast("binary")
    )
    feats = frames.select(
        "doc_id",
        "frame_idx",
        *[
            F.conv(F.substring(fh, k + 1, 1), 16, 10)
            .cast("int")
            .alias(f"f{k}")
            for k in range(4)
        ],
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    diff = sum(
        F.abs(F.col(f"f{k}") - F.lag(f"f{k}").over(w)) for k in range(4)
    )
    scored = feats.withColumn("d", diff)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.when(F.col("d") >= 24, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_cuts"),
        F.max("d").alias("max_diff"),
    )


register(
    "mm_scene_cut",
    _scene_cut,
    """
    WITH d AS (
        SELECT doc_id, md5(text) AS digest,
               strpos('0123456789abcdef', substr(md5(text), 3, 1)) AS n_frames
        FROM documents
    ),
    frames AS (
        SELECT doc_id, digest,
               CAST(unnest(range(0, n_frames)) AS INTEGER) AS frame_idx
        FROM d
    ),
    feats AS (
        SELECT doc_id, frame_idx,
               strpos('0123456789abcdef',
                      substr(md5(digest || '-' || frame_idx), 1, 1)) - 1 AS f0,
               strpos('0123456789abcdef',
                      substr(md5(digest || '-' || frame_idx), 2, 1)) - 1 AS f1,
               strpos('0123456789abcdef',
                      substr(md5(digest || '-' || frame_idx), 3, 1)) - 1 AS f2,
               strpos('0123456789abcdef',
                      substr(md5(digest || '-' || frame_idx), 4, 1)) - 1 AS f3
        FROM frames
    ),
    scored AS (
        SELECT doc_id,
               abs(f0 - lag(f0) OVER w) + abs(f1 - lag(f1) OVER w)
             + abs(f2 - lag(f2) OVER w) + abs(f3 - lag(f3) OVER w) AS d
        FROM feats
        WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
    )
    SELECT doc_id,
           count(*) AS n_frames,
           CAST(sum(CASE WHEN d >= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
           CAST(max(d) AS INTEGER) AS max_diff
    FROM scored GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# voice-activity segmentation (energy gate + run-length islands)
# ---------------------------------------------------------------------------


def _vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio voice-activity detection, STUB energy / real pipeline
    shape: each fake-decoded clip's frames get a deterministic integer
    energy (md5 nibble, stands in for per-frame RMS a real decoder
    emits); frames with energy >= 8 are "voiced", and consecutive
    voiced frames collapse into SEGMENTS via the gaps-and-islands
    transform (frame_idx - row_number over voiced frames is constant
    within a run). Emits per clip: frame count, voiced-frame count,
    segment count, longest segment (0-sentinels when silent — NULL
    numerics would pandas-coerce downstream).

    This is the speech-pipeline front end (VAD -> segment -> transcribe
    only voiced spans): the island window and both aggregates share ONE
    doc_id shuffle; energies are scan-stage expressions; all arithmetic
    is exact integers. At 100 TB of audio the frame table never
    re-shuffles for feature computation, and transcription cost falls
    from total-duration to voiced-duration."""
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", M.to_binary("text").alias("media"))
    decoded = M.decoded_metadata(payload, "doc_id", "media")
    frames = decoded.select(
        "doc_id",
        "digest",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(1))
        ).alias("frame_idx"),
    )
    fh = F.md5(
        F.concat_ws("-", F.col("digest"), F.col("frame_idx")).cast("binary")
    )
    energized = frames.select(
        "doc_id",
        "n_frames",
        "frame_idx",
        F.conv(F.substring(fh, 1, 1), 16, 10).cast("int").alias("energy"),
    )
    voiced = energized.where(F.col("energy") >= 8)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    islands = voiced.withColumn(
        "isl", F.col("frame_idx") - F.row_number().over(w)
    )
    segs = islands.groupBy("doc_id", "isl").agg(
        F.count(F.lit(1)).alias("seg_len")
    )
    per_doc = segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("seg_len").alias("n_voiced"),
        F.max("seg_len").alias("longest_segment"),
    )
    return (
        decoded.select("doc_id", "n_frames")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_frames",
            F.coalesce(F.col("n_voiced"), F.lit(0).cast("long")).alias(
                "n_voiced"
            ),
            F.coalesce(F.col("n_segments"), F.lit(0).cast("long")).alias(
                "n_segments"
            ),
            F.coalesce(
                F.col("longest_segment"), F.lit(0).cast("long")
            ).alias("longest_segment"),
        )
    )


register(
    "mm_vad_segments",
    _vad_segments,
    """
    WITH d AS (
        SELECT doc_id, md5(text) AS digest,
               strpos('0123456789abcdef', substr(md5(text), 3, 1)) AS n_frames
        FROM documents
    ),
    frames AS (
        SELECT doc_id, n_frames,
               CAST(unnest(range(0, n_frames)) AS INTEGER) AS frame_idx,
               digest
        FROM d
    ),
    energized AS (
        SELECT doc_id, n_frames, frame_idx,
               strpos('0123456789abcdef',
                      substr(md5(digest || '-' || frame_idx), 1, 1)) - 1
                   AS energy
        FROM frames
    ),
    voiced AS (
        SELECT doc_id, frame_idx,
               frame_idx - row_number()
                   OVER (PARTITION BY doc_id ORDER BY frame_idx) AS isl
        FROM energized WHERE energy >= 8
    ),
    segs AS (
        SELECT doc_id, isl, count(*) AS seg_len
        FROM voiced GROUP BY doc_id, isl
    ),
    per_doc AS (
        SELECT doc_id, count(*) AS n_segments,
               CAST(sum(seg_len) AS BIGINT) AS n_voiced,
               max(seg_len) AS longest_segment
        FROM segs GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(d.n_frames AS BIGINT) AS n_frames,
           coalesce(p.n_voiced, 0) AS n_voiced,
           coalesce(p.n_segments, 0) AS n_segments,
           coalesce(p.longest_segment, 0) AS longest_segment
    FROM d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
