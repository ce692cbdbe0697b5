"""Multimodal-column operators (task brief: image/audio/video as opaque
``binary`` columns with typed metadata).

No image/audio libraries exist in this container, so the DECODE step is a
clearly-marked stub (deterministic fake documented per-op) — but
everything Spark cares about is real and tested: the binary column
representation, the metadata struct schema, the mapInPandas/pandas-UDF
signatures, Arrow batch shapes, and the partitioning story.

Fixtures carry no binary columns, so each op first MATERIALIZES a
deterministic payload from the documents table (utf-8 bytes of ``text``
standing in for an encoded image/audio blob). Because the payload is a
pure function of fixture data, the ops remain DuckDB-oracle-checkable —
the oracle recomputes the same byte math with BLOB functions.

Scale notes (100 TB of media): payloads stay opaque bytes end-to-end
(no JVM-side decode), so the plan is scan → Arrow batch → Python codec →
narrow typed columns; partition by content-defined key (hash of payload)
to spread decode cost; metadata-only queries never touch the bytes
column thanks to parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import t
from ..functions.deterministic import micros, sql_micros
from .registry import register

def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze media table: (media_id, payload binary, media_type).

    Payload = utf-8 bytes of the document text (deterministic stand-in
    for an encoded image); media_type cycles deterministically.
    """
    d = t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
    )


@register(
    "mm_metadata_extract",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                           ELSE 'video' END AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_key
    FROM documents
    """,
)
def mm_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Typed metadata over opaque payloads — the query every media
    # pipeline runs first. Metadata-only: with payloads persisted to
    # parquet, column pruning means the bytes are never read.
    p = _payloads(spark, sf_dir)
    return p.select(
        "media_id",
        "media_type",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5(F.col("payload").cast("string")).alias("content_key"),
    )


@register(
    "mm_decode_features",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(list_sum(list_transform(
                   range(1, octet_length(encode(text)) + 1),
                   i -> ascii(substring(text, i, 1)))) AS DOUBLE)
                 / octet_length(encode(text)) AS mean_byte
    FROM documents
    WHERE doc_id % 5 = 0
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DECODE STUB, batch-shaped like the real thing: mapInPandas receives
    # Arrow batches of (media_id, payload); the "decoder" produces a
    # per-payload feature (mean byte value — stand-in for e.g. mean
    # luminance after a real image decode). The decoder is a
    # deterministic stub; the Spark plumbing — binary in Arrow, typed
    # features out — is what a real codec would use.
    p = _payloads(spark, sf_dir).filter(F.col("media_id") % 5 == 0)

    # NB: the closure must not touch module globals — cloudpickle would
    # then ship it by module reference, and executor Python workers have
    # no sys.path entry for this repo under the driver's vanilla session.
    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf.payload.map(len)
            # int_sum / int_len is ONE IEEE division — bit-identical in
            # both engines, so no final round (a .round(6) here diverged
            # from DuckDB on an exact 6dp tie at sf0.1: half-even vs
            # half-away — found r7)
            mean = pdf.payload.map(lambda b: sum(b) / len(b))
            yield pd.DataFrame(
                {"media_id": pdf.media_id, "n_bytes": n, "mean_byte": mean}
            )

    return p.mapInPandas(
        decode_batch, schema="media_id long, n_bytes long, mean_byte double"
    )


@register(
    "mm_resize_plan",
    """
    SELECT doc_id AS media_id,
           1 + doc_id % 1920 AS width,
           1 + doc_id % 1080 AS height,
           CAST(CEIL((1 + doc_id % 1920) / 2.0) AS BIGINT) AS out_width,
           CAST(CEIL((1 + doc_id % 1080) / 2.0) AS BIGINT) AS out_height
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Image-resize operator, stub decode: dimensions come from metadata
    # (deterministic fake — a real pipeline reads them from the codec
    # header); the ½× resize plan (output geometry) is computed in a
    # vectorized pandas UDF exactly as a real resampler would be invoked.
    img = _payloads(spark, sf_dir).filter(F.col("media_type") == "image")
    img = img.select(
        "media_id",
        (1 + F.col("media_id") % 1920).alias("width"),
        (1 + F.col("media_id") % 1080).alias("height"),
    )

    @F.pandas_udf("long")
    def half_ceil(v: pd.Series) -> pd.Series:
        # the arithmetic a real resize kernel is handed; the pixel work
        # itself is the stubbed codec step
        return -(-v // 2)

    return img.select(
        "media_id",
        "width",
        "height",
        half_ceil("width").alias("out_width"),
        half_ceil("height").alias("out_height"),
    )


@register(
    "mm_frame_sample",
    """
    SELECT doc_id AS media_id,
           unnest(range(0, 1 + doc_id % 240, 24)) AS frame_idx
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Video frame sampling: every 24th frame index per clip (1 fps at
    # 24fps). Frame COUNT comes from metadata (deterministic fake);
    # decoding the sampled frames is the stubbed codec step. The explode
    # is the real distribution story: one row per (clip, frame) fans the
    # decode out across the cluster.
    vid = _payloads(spark, sf_dir).filter(F.col("media_type") == "video")
    return vid.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0), F.col("media_id") % 240, F.lit(24)
            )
        ).alias("frame_idx"),
    )


@register(
    "mm_dedup_exact",
    """
    WITH hashed AS (
      SELECT doc_id AS media_id, md5(text) AS content_hash FROM documents
    )
    SELECT content_hash,
           MIN(media_id) AS keeper_media,
           COUNT(*) AS n_copies
    FROM hashed GROUP BY content_hash ORDER BY keeper_media
    """,
)
def mm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed media dedup: hash the opaque payload BYTES and
    keep one copy per digest — the first pass of any media-corpus
    pipeline (identical files re-crawled under different URLs). The
    payload never decodes: md5 runs JVM-side over the binary column, the
    shuffle carries (digest, id) only, and the groupBy is a plain
    partial-agg min/count. At 100 TB: identical plan; the digest is also
    the natural content-addressed partition key for downstream decode.

    Oracle note: payload = utf-8 bytes of text (see _payloads), so
    DuckDB's md5(text) over the same fixture computes the same digests.
    """
    p = _payloads(spark, sf_dir)
    return (
        p.select(
            "media_id", F.md5(F.col("payload")).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min("media_id").alias("keeper_media"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_media")
    )


_PHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id AS media_id, string_split(text, ' ') AS tk
  FROM documents
  WHERE length(string_split(text, ' ')) >= 8
), bands AS (
  SELECT media_id, b.band_idx,
         CAST(('0x' || substr(md5(tk[2 * b.band_idx + 1] || ' ' ||
                                  tk[2 * b.band_idx + 2]), 1, 4))
              AS INTEGER) AS band_val
  FROM toks, (VALUES (0), (1), (2), (3)) AS b(band_idx)
), pairs AS (
  SELECT a.media_id AS m1, b.media_id AS m2, COUNT(*) AS n_equal_bands
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.media_id < b.media_id
  GROUP BY a.media_id, b.media_id
)
SELECT n_equal_bands, COUNT(*) AS n_pairs
FROM pairs
GROUP BY n_equal_bands
ORDER BY n_equal_bands
"""


@register("mm_dedup_phash", _PHASH_ORACLE)
def mm_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection for media — the banded-LSH
    search structure of pHash/aHash image dedup, with the codec step
    stubbed like the rest of this module (the stand-in "perceptual
    hash" derives 4 × 16-bit bands from coarse payload features — here
    leading token windows — so that SIMILAR payloads agree on MOST
    bands, which is precisely the property a real DCT pHash provides).
    The Spark shape is the production one: each media row explodes to
    its 4 (band_idx, band_val) postings, candidate pairs come from the
    band-bucket equi-join (never all-pairs; a pair is generated once
    per agreeing band, so the per-pair row count IS the band-agreement
    count), and the ≥3-of-4 refinement happens on the grouped counts.
    At 100 TB: postings are 12-byte rows, bucket sizes bound the join
    fan-out exactly as in llm_dedup_minhash, and swapping the stub for
    a real pHash changes one projection, not the search structure.
    """
    d = t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 8
    )
    tk = F.split("text", " ")
    band_cols = []
    for i in range(4):
        pair_txt = F.concat(
            F.element_at(tk, 2 * i + 1), F.lit(" "), F.element_at(tk, 2 * i + 2)
        )
        band_cols.append(
            F.struct(
                F.lit(i).alias("band_idx"),
                F.conv(F.substring(F.md5(pair_txt), 1, 4), 16, 10)
                .cast("int")
                .alias("band_val"),
            )
        )
    bands = d.select(
        F.col("doc_id").alias("media_id"),
        F.explode(F.array(*band_cols)).alias("b"),
    ).select("media_id", "b.band_idx", "b.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("m1"), F.col("b.media_id").alias("m2")
        )
        .agg(F.count(F.lit(1)).alias("n_equal_bands"))
    )
    return (
        pairs.groupBy("n_equal_bands")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("n_equal_bands")
    )


@register(
    "mm_aspect_bucket",
    """
    WITH img AS (
      SELECT doc_id AS media_id,
             CAST(1 + (doc_id * 37) % 1920 AS BIGINT) AS w,
             CAST(1 + (doc_id * 17) % 1080 AS BIGINT) AS h
      FROM documents WHERE doc_id % 3 = 0
    ),
    -- exact integer argmin of |w/h - p/q| over the 5 targets:
    -- scale each |w*q - h*p| by 144/q (144 = lcm of the q's) so all
    -- five distances share the h*144 denominator and compare as longs
    d AS (
      SELECT media_id, w, h,
             abs(w * 1 - h * 1) * 144  AS d_1_1,
             abs(w * 3 - h * 4) * 48   AS d_4_3,
             abs(w * 4 - h * 3) * 36   AS d_3_4,
             abs(w * 9 - h * 16) * 16  AS d_16_9,
             abs(w * 16 - h * 9) * 9   AS d_9_16
      FROM img
    ),
    labeled AS (
      SELECT media_id, w, h,
             CASE
               WHEN d_1_1 <= d_4_3 AND d_1_1 <= d_3_4
                    AND d_1_1 <= d_16_9 AND d_1_1 <= d_9_16 THEN '1:1'
               WHEN d_4_3 <= d_3_4 AND d_4_3 <= d_16_9
                    AND d_4_3 <= d_9_16 THEN '4:3'
               WHEN d_3_4 <= d_16_9 AND d_3_4 <= d_9_16 THEN '3:4'
               WHEN d_16_9 <= d_9_16 THEN '16:9'
               ELSE '9:16'
             END AS bucket
      FROM d
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           ROUND(CAST(SUM(w) AS DOUBLE) / COUNT(*), 6) AS avg_width,
           ROUND(CAST(SUM(h) AS DOUBLE) / COUNT(*), 6) AS avg_height
    FROM labeled GROUP BY bucket ORDER BY bucket
    """,
)
def mm_aspect_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aspect-ratio bucketing — the batching prerequisite of image-model
    # training (pad-free batches need same-shape members; SDXL-style
    # pipelines bucket by nearest canonical aspect). Dimensions come
    # from metadata (deterministic fake; a real pipeline reads codec
    # headers). The nearest-target argmin is EXACT integer math: the
    # five |w/h - p/q| distances are cross-multiplied onto the common
    # denominator h*144 (144 = lcm of the target q's), so both engines
    # pick identical buckets even at boundary ties (CASE order breaks
    # them identically). Map-only + one tiny fold: linear at 100 TB,
    # and the bucket key is exactly the repartition key the downstream
    # batch-builder shuffles on.
    img = _payloads(spark, sf_dir).filter(F.col("media_type") == "image")
    # multipliers decouple w from h (plain doc_id mods coincide below 1080)
    w = (1 + (F.col("media_id") * 37) % 1920).cast("long")
    h = (1 + (F.col("media_id") * 17) % 1080).cast("long")
    dims = img.select("media_id", w.alias("w"), h.alias("h"))
    targets = [  # (label, p, q, 144 // q)
        ("1:1", 1, 1, 144),
        ("4:3", 4, 3, 48),
        ("3:4", 3, 4, 36),
        ("16:9", 16, 9, 16),
        ("9:16", 9, 16, 9),
    ]
    dcols = {
        lbl: F.abs(F.col("w") * q - F.col("h") * p) * scale
        for lbl, p, q, scale in targets
    }
    bucket = (
        F.when(
            (dcols["1:1"] <= dcols["4:3"])
            & (dcols["1:1"] <= dcols["3:4"])
            & (dcols["1:1"] <= dcols["16:9"])
            & (dcols["1:1"] <= dcols["9:16"]),
            "1:1",
        )
        .when(
            (dcols["4:3"] <= dcols["3:4"])
            & (dcols["4:3"] <= dcols["16:9"])
            & (dcols["4:3"] <= dcols["9:16"]),
            "4:3",
        )
        .when(
            (dcols["3:4"] <= dcols["16:9"])
            & (dcols["3:4"] <= dcols["9:16"]),
            "3:4",
        )
        .when(dcols["16:9"] <= dcols["9:16"], "16:9")
        .otherwise("9:16")
    )
    return (
        dims.select(bucket.alias("bucket"), "w", "h")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.sum("w").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_width"
            ),
            F.round(F.sum("h").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_height"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "mm_audio_chunk_plan",
    """
    WITH audio AS (
      SELECT doc_id AS media_id,
             [16000, 22050, 44100][((doc_id // 3) % 3) + 1] AS sample_rate,
             octet_length(encode(text)) * 7 AS duration_ms
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT media_id, sample_rate, duration_ms,
           CAST(s.start_ms AS BIGINT) AS start_ms,
           CAST(LEAST(s.start_ms + 30000, duration_ms) AS BIGINT) AS end_ms,
           CAST((LEAST(s.start_ms + 30000, duration_ms) - s.start_ms)
                * sample_rate // 1000 AS BIGINT) AS n_samples
    FROM audio,
         LATERAL (SELECT unnest(range(0, duration_ms, 25000)) AS start_ms) s
    ORDER BY media_id, start_ms
    """,
)
def mm_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plan: split each clip into 30 s windows on a
    25 s stride (5 s overlap, the ASR-pipeline staple) from METADATA
    only — like mm_resize_plan/mm_frame_sample, the plan is computed
    without touching payload bytes (sample_rate/duration would come
    from a real header probe; here they derive deterministically from
    the fixture so the oracle can recompute them). The chunk table is
    what a downstream decode stage consumes, one Arrow batch per
    partition of (media_id, start_ms). sequence+explode is linear in
    output chunks; n_samples is exact integer arithmetic (truncating
    div, non-negative operands agree across engines).
    """
    audio = _payloads(spark, sf_dir).filter(
        F.col("media_type") == "audio"
    ).select(
        "media_id",
        F.element_at(
            F.array(F.lit(16000), F.lit(22050), F.lit(44100)),
            (F.expr("media_id div 3") % 3 + 1).cast("int"),
        ).alias("sample_rate"),
        (F.octet_length("payload").cast("long") * 7).alias("duration_ms"),
    )
    chunks = audio.select(
        "media_id",
        "sample_rate",
        "duration_ms",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("duration_ms") - 1,
                F.lit(25000).cast("long"),
            )
        ).alias("start_ms"),
    )
    end_ms = F.least(F.col("start_ms") + 30000, F.col("duration_ms"))
    return chunks.select(
        "media_id",
        "sample_rate",
        "duration_ms",
        "start_ms",
        end_ms.alias("end_ms"),
        F.expr(
            "(least(start_ms + 30000, duration_ms) - start_ms)"
            " * sample_rate div 1000"
        ).alias("n_samples"),
    ).orderBy("media_id", "start_ms")


# ---------------------------------------------------------------------------
# mm_tile_plan — ViT-style tiling plan per image: how many 224×224
# patches at stride 196 (28-px overlap) cover each image, plus the
# padded canvas the last ragged tile implies. The plan every
# vision-encoder ingest job computes BEFORE decoding a single byte —
# metadata-only, so column pruning never touches payloads. Tile counts
# are exact ceil-division integer math: n = (dim − 224 + 195) div 196
# + 1 for dim > 224 else 1 (both engines' floor-div agree on the
# positive operands). Map-only + a presentation sort: linear at 100 TB,
# and (tiles_x · tiles_y) is exactly the fan-out factor the downstream
# explode-to-patches stage will multiply the row count by.
# ---------------------------------------------------------------------------

_TILE_ORACLE = """
WITH img AS (
  SELECT doc_id AS media_id,
         CAST(1 + (doc_id * 37) % 1920 AS BIGINT) AS w,
         CAST(1 + (doc_id * 17) % 1080 AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 = 0
),
plan AS (
  SELECT media_id, w, h,
         CASE WHEN w > 224 THEN (w - 224 + 195) // 196 + 1 ELSE 1 END
           AS tiles_x,
         CASE WHEN h > 224 THEN (h - 224 + 195) // 196 + 1 ELSE 1 END
           AS tiles_y
  FROM img
)
SELECT media_id, w, h, tiles_x, tiles_y,
       tiles_x * tiles_y AS n_tiles,
       (tiles_x - 1) * 196 + 224 AS canvas_w,
       (tiles_y - 1) * 196 + 224 AS canvas_h,
       (tiles_x - 1) * 196 + 224 - w AS pad_x,
       (tiles_y - 1) * 196 + 224 - h AS pad_y
FROM plan
ORDER BY media_id
"""


@register("mm_tile_plan", _TILE_ORACLE)
def mm_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = _payloads(spark, sf_dir).filter(F.col("media_type") == "image")
    w = (1 + (F.col("media_id") * 37) % 1920).cast("long")
    h = (1 + (F.col("media_id") * 17) % 1080).cast("long")
    dims = img.select("media_id", w.alias("w"), h.alias("h"))

    def tiles(c):
        return (
            F.when(F.col(c) > 224, F.expr(f"({c} - 224 + 195) div 196 + 1"))
            .otherwise(F.lit(1))
            .cast("long")
        )

    plan = dims.select(
        "media_id",
        "w",
        "h",
        tiles("w").alias("tiles_x"),
        tiles("h").alias("tiles_y"),
    )
    return plan.select(
        "media_id",
        "w",
        "h",
        "tiles_x",
        "tiles_y",
        (F.col("tiles_x") * F.col("tiles_y")).alias("n_tiles"),
        ((F.col("tiles_x") - 1) * 196 + 224).alias("canvas_w"),
        ((F.col("tiles_y") - 1) * 196 + 224).alias("canvas_h"),
        ((F.col("tiles_x") - 1) * 196 + 224 - F.col("w")).alias("pad_x"),
        ((F.col("tiles_y") - 1) * 196 + 224 - F.col("h")).alias("pad_y"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# mm_scene_split — shot/scene segmentation of video by frame-difference
# thresholding: a scene boundary falls where the inter-frame feature
# distance jumps (the classic histogram-difference shot detector every
# video-curation pipeline runs before sampling clips for training).
# The frame FEATURES here are a deterministic fake (no libav in this
# container — same stub contract as mm_decode_features): what's real
# and tested is the Spark shape — explode frames from metadata, one
# media-partitioned LAG window, gaps-islands scene ids, per-scene and
# per-video rollups. Swap the feature expression for a real decode
# mapInPandas and nothing downstream changes.
# At 100 TB: frame explode is map-side; both windows and both rollups
# share the media_id key — one shuffle lineage end-to-end.
# ---------------------------------------------------------------------------

_SCENE_ORACLE = """
WITH vid AS (
  SELECT doc_id AS media_id, 16 + doc_id % 48 AS n_frames
  FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT media_id, n_frames, f,
         (media_id * 31 + f * f * 7 + f * 17) % 1000 AS feat
  FROM vid, LATERAL (SELECT unnest(range(0, n_frames)) AS f)
),
flags AS (
  SELECT media_id, n_frames, f,
         CASE WHEN LAG(feat) OVER (PARTITION BY media_id ORDER BY f)
                   IS NULL THEN 1
              WHEN ABS(feat - LAG(feat) OVER (PARTITION BY media_id
                                              ORDER BY f)) > 500 THEN 1
              ELSE 0 END AS new_scene
  FROM frames
),
scenes AS (
  SELECT media_id, n_frames,
         SUM(new_scene) OVER (PARTITION BY media_id ORDER BY f) AS scene_id
  FROM flags
),
per_scene AS (
  SELECT media_id, n_frames, scene_id,
         CAST(COUNT(*) AS BIGINT) AS scene_len
  FROM scenes GROUP BY media_id, n_frames, scene_id
)
SELECT media_id,
       CAST(MAX(n_frames) AS BIGINT) AS n_frames,
       CAST(COUNT(*) AS BIGINT) AS n_scenes,
       CAST(MAX(scene_len) AS BIGINT) AS max_scene_len,
       (1000000 * CAST(MAX(n_frames) AS BIGINT)) // COUNT(*)
         AS avg_scene_len_ppm
FROM per_scene
GROUP BY media_id
ORDER BY media_id
"""


@register("mm_scene_split", _SCENE_ORACLE)
def mm_scene_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene segmentation per video: boundary where the deterministic
    frame feature jumps by > 500, scenes via the running boundary sum
    (gaps-islands), then per-video scene-count / longest-scene /
    average-length stats. Integer math end-to-end; the single floor
    division has positive operands.
    """
    vid = (
        _payloads(spark, sf_dir)
        .filter(F.col("media_type") == "video")
        .select(
            "media_id", (16 + F.col("media_id") % 48).alias("n_frames")
        )
    )
    frames = vid.select(
        "media_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1)
        ).alias("f"),
    ).select(
        "media_id",
        "n_frames",
        "f",
        (
            (
                F.col("media_id") * 31
                + F.col("f") * F.col("f") * 7
                + F.col("f") * 17
            )
            % 1000
        ).alias("feat"),
    )
    wm = W.partitionBy("media_id").orderBy("f")
    prev = F.lag("feat").over(wm)
    flags = frames.select(
        "media_id",
        "n_frames",
        "f",
        F.when(prev.isNull(), 1)
        .when(F.abs(F.col("feat") - prev) > 500, 1)
        .otherwise(0)
        .alias("new_scene"),
    )
    scenes = flags.select(
        "media_id",
        "n_frames",
        F.sum("new_scene").over(wm).alias("scene_id"),
    )
    per_scene = scenes.groupBy("media_id", "n_frames", "scene_id").agg(
        F.count(F.lit(1)).alias("scene_len")
    )
    return (
        per_scene.groupBy("media_id")
        .agg(
            F.max("n_frames").alias("n_frames"),
            F.count(F.lit(1)).alias("n_scenes"),
            F.max("scene_len").alias("max_scene_len"),
        )
        .select(
            "media_id",
            "n_frames",
            "n_scenes",
            "max_scene_len",
            F.expr("(1000000 * n_frames) div n_scenes").alias(
                "avg_scene_len_ppm"
            ),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# mm_interleave_pack — the image-text training-sample assembler: every
# document contributes a TEXT segment (whitespace token count) and every
# image document (doc_id % 3 == 0, the _payloads media_type cycle) also
# contributes an IMAGE segment whose token cost is its mm_tile_plan tile
# count x 64 visual tokens per 224x224 tile (the ViT-with-pooling
# budget a multimodal LM charges per tile). Segments interleave in
# deterministic hashed document order with each image immediately
# BEFORE its own caption text (seg_rank 0 < 1 — the standard
# image-then-caption layout), and pack greedily into 4096-token
# training sequences via the llm_sequence_pack prefix-sum form:
# pack_id = floor(tokens_before / budget) within a 16-way hash bucket,
# so packing state never crosses executors and sequences never span
# buckets (pack boundaries are arbitrary, so this costs nothing).
# 4096 > the worst-case single image (10 x 6 tiles x 64 = 3840), so no
# segment can straddle more than two budget lines. pack_pos numbers
# the assembled sample's slots. Two doc-keyed projections, one union,
# two bucket-partitioned windows — linear at 100 TB.
# ---------------------------------------------------------------------------

_INTERLEAVE_PACK_ORACLE = """
WITH img AS (
  SELECT doc_id,
         CAST(1 + (doc_id * 37) % 1920 AS BIGINT) AS w,
         CAST(1 + (doc_id * 17) % 1080 AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 = 0
),
segs AS (
  SELECT doc_id, 0 AS seg_rank, 'img' AS seg_type,
         (CASE WHEN w > 224 THEN (w - 224 + 195) // 196 + 1 ELSE 1 END
          * CASE WHEN h > 224 THEN (h - 224 + 195) // 196 + 1 ELSE 1 END
          * 64) AS n_tokens
  FROM img
  UNION ALL
  SELECT doc_id, 1, 'txt',
         CAST(len(string_split(text, ' ')) AS BIGINT)
  FROM documents
),
keyed AS (
  SELECT doc_id, seg_rank, seg_type, n_tokens,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM segs
),
packed AS (
  SELECT doc_id, seg_type, n_tokens, bucket, k, seg_rank,
         CAST(FLOOR(
           (SUM(n_tokens) OVER (PARTITION BY bucket
                                ORDER BY k, doc_id, seg_rank
                                ROWS UNBOUNDED PRECEDING) - n_tokens)
           / 4096.0) AS BIGINT) AS pack_id
  FROM keyed
)
SELECT doc_id, seg_type, CAST(n_tokens AS BIGINT) AS n_tokens, bucket,
       pack_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY bucket, pack_id
                               ORDER BY k, doc_id, seg_rank) AS BIGINT)
         AS pack_pos
FROM packed
ORDER BY bucket, pack_id, pack_pos
"""


@register("mm_interleave_pack", _INTERLEAVE_PACK_ORACLE)
def mm_interleave_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    img = _payloads(spark, sf_dir).filter(F.col("media_type") == "image")
    w = (1 + (F.col("media_id") * 37) % 1920).cast("long")
    h = (1 + (F.col("media_id") * 17) % 1080).cast("long")

    def tiles(c):
        return (
            F.when(F.col(c) > 224, F.expr(f"({c} - 224 + 195) div 196 + 1"))
            .otherwise(F.lit(1))
            .cast("long")
        )

    img_segs = (
        img.select("media_id", w.alias("w"), h.alias("h"))
        .select(
            F.col("media_id").alias("doc_id"),
            F.lit(0).alias("seg_rank"),
            F.lit("img").alias("seg_type"),
            (tiles("w") * tiles("h") * 64).alias("n_tokens"),
        )
    )
    txt_segs = d.select(
        "doc_id",
        F.lit(1).alias("seg_rank"),
        F.lit("txt").alias("seg_type"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    key = F.md5(F.col("doc_id").cast("string"))
    keyed = img_segs.unionAll(txt_segs).select(
        "doc_id",
        "seg_rank",
        "seg_type",
        "n_tokens",
        F.substring(key, 1, 1).alias("bucket"),
        key.alias("k"),
    )
    wsum = (
        W.partitionBy("bucket")
        .orderBy("k", "doc_id", "seg_rank")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = keyed.select(
        "doc_id",
        "seg_type",
        "n_tokens",
        "bucket",
        "k",
        "seg_rank",
        F.floor((F.sum("n_tokens").over(wsum) - F.col("n_tokens")) / 4096.0)
        .cast("long")
        .alias("pack_id"),
    )
    pos = F.row_number().over(
        W.partitionBy("bucket", "pack_id").orderBy("k", "doc_id", "seg_rank")
    )
    return (
        packed.select(
            "doc_id",
            "seg_type",
            "n_tokens",
            "bucket",
            "pack_id",
            pos.cast("long").alias("pack_pos"),
        )
        .orderBy("bucket", "pack_id", "pack_pos")
    )


_CROSSMODAL_ORACLE = f"""
WITH imgs AS (
  SELECT doc_id AS media_id, md5(text) AS h1, md5(text || ':2') AS h2
  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 24
),
iv AS (
  SELECT media_id, d.dim,
         2 * (strpos('0123456789abcdef',
              substring(CASE WHEN d.dim <= 32 THEN h1 ELSE h2 END,
                        CASE WHEN d.dim <= 32 THEN d.dim
                             ELSE d.dim - 32 END,
                        1)) - 1) - 15 AS v
  FROM imgs, (SELECT unnest(range(1, 65)) AS dim) d
),
nv AS (SELECT GREATEST(200, COUNT(*) // 10) AS rcand FROM embeddings),
pts AS (
  SELECT vec_id, dim,
         {sql_micros("CAST(embedding[dim] AS DOUBLE)")}
           AS x_m,
         CAST(ROUND(CAST(embedding[dim] AS DOUBLE) * 127) AS BIGINT)
           AS x_q
  FROM embeddings, (SELECT unnest(range(1, 65)) AS dim)
),
dots AS (
  SELECT i.media_id, p.vec_id,
         SUM(i.v * p.x_m) AS dot_full,
         SUM(i.v * p.x_q) AS dot_q
  FROM iv i JOIN pts p USING (dim)
  GROUP BY i.media_id, p.vec_id
),
cand AS (
  SELECT media_id, vec_id, dot_full FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id
              ORDER BY dot_q DESC, vec_id) AS rc FROM dots), nv
  WHERE rc <= nv.rcand
),
approx AS (
  SELECT media_id, vec_id, dot_full, rn AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id
              ORDER BY dot_full DESC, vec_id) AS rn FROM cand)
  WHERE rn <= 10
),
exact AS (
  SELECT media_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id
              ORDER BY dot_full DESC, vec_id) AS rn FROM dots)
  WHERE rn <= 10
),
rec AS (
  SELECT e.media_id,
         CAST(COUNT(a.vec_id) * 100000 AS BIGINT) AS recall10_ppm
  FROM exact e
  LEFT JOIN approx a ON a.media_id = e.media_id AND a.vec_id = e.vec_id
  GROUP BY e.media_id
)
SELECT ap.media_id, ap.rnk, ap.vec_id,
       CAST(ap.dot_full AS BIGINT) AS dot_full,
       r.recall10_ppm, TRUE AS recall_ok
FROM approx ap JOIN rec r ON r.media_id = ap.media_id
ORDER BY ap.media_id, ap.rnk
"""


@register("mm_crossmodal_topk", _CROSSMODAL_ORACLE)
def mm_crossmodal_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style cross-modal retrieval — image queries against the
    TEXT embedding corpus, closing the mm family's retrieval gap (it
    plans, packs and dedups but never retrieves). The image tower is a
    deterministic stand-in (container ships no vision model — the
    multimodal decode-stub contract): each image query's 64-d embedding
    derives from two md5 digests of its payload, one odd integer in
    [-15, 15] per hex nibble — the Spark plumbing (shared embedding
    space, join shape, candidate flow) is the real thing. Retrieval is
    the SQ8 candidate-then-verify shape (llm_embed_quantize's int8
    scalar quantization as the coarse index + llm_cosine_topk_ivfpq's
    exact re-rank): an int8-quantized dot over all 64 dims ranks the
    corpus, the top max(200, N/10) candidates re-rank under the full
    micros-exact dot, and recall@10 against the exact top-10 is
    emitted per query with a measured floor (per-query hits 10/10 at
    sf0.001/0.01/0.1 AND the 10x/30x replicas; a 32-dim-prefix coarse
    stage was MEASURED at 9/9/4 base and 0 on replicas, where exact
    duplicates collapse the top-10 onto one argmax vector — full-width
    SQ8 correlates where a prefix cannot on near-uniform vectors.
    Floor 0.9; oracle emits TRUE, so a recall regression
    hash-mismatches). Determinism: image dims are exact integers, text
    dims micros-quantized (the house x_m pattern), every dot an exact
    BIGINT sum, all rank ties broken by vec_id. Plan at 100 TB: the
    image tower is a bounded query set broadcast onto ONE corpus scan
    (per-dim equi-join + map-side-combined (media_id, vec_id) fold);
    SQ8 means a production deployment stores the int8 column and scans
    8x fewer candidate-pass bytes; per-query rank windows are
    media_id-partitioned, corpus-bounded — the blocked/IVF variants in
    the llm family are the sub-linear upgrade path.
    """
    d = t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 24)
    )
    imgs = d.select(
        F.col("doc_id").alias("media_id"),
        F.md5("text").alias("h1"),
        F.md5(F.concat(F.col("text"), F.lit(":2"))).alias("h2"),
    )
    iv = imgs.select(
        "media_id",
        F.explode(F.sequence(F.lit(1), F.lit(64))).alias("dim"),
        "h1",
        "h2",
    ).select(
        "media_id",
        "dim",
        F.expr(
            "2 * (instr('0123456789abcdef',"
            " substring(CASE WHEN dim <= 32 THEN h1 ELSE h2 END,"
            " CASE WHEN dim <= 32 THEN dim ELSE dim - 32 END, 1)) - 1)"
            " - 15"
        ).alias("v"),
    )
    e = t(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        micros(F.col("x").cast("double"))
        .alias("x_m"),
        F.round(F.col("x").cast("double") * 127).cast("long").alias("x_q"),
    )
    nv = e.agg(
        F.greatest(F.lit(200), F.expr("count(1) div 10")).alias("rcand")
    )
    dots = (
        pts.join(F.broadcast(iv), "dim")
        .groupBy("media_id", "vec_id")
        .agg(
            F.sum(F.col("v") * F.col("x_m")).alias("dot_full"),
            F.sum(F.col("v") * F.col("x_q")).alias("dot_q"),
        )
    )
    w_pre = W.partitionBy("media_id").orderBy(
        F.col("dot_q").desc(), "vec_id"
    )
    w_full = W.partitionBy("media_id").orderBy(
        F.col("dot_full").desc(), "vec_id"
    )
    cand = (
        dots.select(
            "media_id",
            "vec_id",
            "dot_full",
            F.row_number().over(w_pre).alias("rc"),
        )
        .crossJoin(F.broadcast(nv))
        .filter(F.col("rc") <= F.col("rcand"))
        .drop("rc", "rcand")
    )
    approx = cand.select(
        "media_id",
        "vec_id",
        "dot_full",
        F.row_number().over(w_full).alias("rnk"),
    ).filter(F.col("rnk") <= 10)
    exact = dots.select(
        "media_id", "vec_id", F.row_number().over(w_full).alias("re")
    ).filter(F.col("re") <= 10)
    rec = (
        exact.join(
            approx.select("media_id", "vec_id").withColumn(
                "hit", F.lit(1)
            ),
            ["media_id", "vec_id"],
            "left",
        )
        .groupBy("media_id")
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) * 100000).alias(
                "recall10_ppm"
            )
        )
    )
    return (
        approx.join(F.broadcast(rec), "media_id")
        .select(
            "media_id",
            F.col("rnk").cast("long").alias("rnk"),
            "vec_id",
            "dot_full",
            "recall10_ppm",
            (F.col("recall10_ppm") >= 900000).alias("recall_ok"),
        )
        .orderBy("media_id", "rnk")
    )


# ---------------------------------------------------------------------------
# mm_audio_vad_plan — energy-threshold voice-activity segmentation, the
# ASR-pipeline sibling of mm_scene_split on the audio axis: frame
# energies -> voiced flags -> voiced runs merged across short silence
# gaps (the classic VAD "hangover") -> per-segment plan rows a
# downstream ASR decode stage consumes. Frame ENERGIES are the same
# deterministic decode-stub contract as mm_scene_split's features (no
# libav in this container; swap the energy expression for a real
# mapInPandas decode and nothing downstream changes). Exact integer
# sample arithmetic end to end; gaps-and-islands via one
# media-partitioned LAG window + running sum.
# At 100 TB: frame explode is map-side; the window and the per-segment
# rollup share the media_id shuffle key (rollup keys (media_id,
# seg_id) are a superset, so Catalyst reuses the exchange) — one
# shuffle lineage end-to-end, plan-asserted.
# ---------------------------------------------------------------------------

_VAD_ORACLE = """
WITH audio AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) * 7 AS duration_ms
  FROM documents WHERE doc_id % 3 = 1
),
frames AS (
  SELECT media_id, duration_ms, f,
         (media_id * 37 + f * f * 13 + f * 29) % 1000 AS energy
  FROM audio,
       LATERAL (SELECT unnest(range(0, duration_ms // 20)) AS f)
),
voiced AS (
  SELECT media_id, duration_ms, f FROM frames WHERE energy >= 550
),
flags AS (
  SELECT media_id, duration_ms, f,
         CASE WHEN LAG(f) OVER (PARTITION BY media_id ORDER BY f)
                   IS NULL THEN 1
              WHEN f - LAG(f) OVER (PARTITION BY media_id ORDER BY f)
                   > 3 THEN 1
              ELSE 0 END AS new_seg
  FROM voiced
),
segs AS (
  SELECT media_id, duration_ms, f,
         SUM(new_seg) OVER (PARTITION BY media_id ORDER BY f) AS seg_id
  FROM flags
)
SELECT media_id,
       CAST(MAX(duration_ms) AS BIGINT) AS duration_ms,
       CAST(seg_id AS BIGINT) AS seg_id,
       CAST(MIN(f) * 20 AS BIGINT) AS start_ms,
       CAST((MAX(f) + 1) * 20 AS BIGINT) AS end_ms,
       CAST(COUNT(*) AS BIGINT) AS n_voiced_frames,
       CAST(MAX(f) - MIN(f) + 1 AS BIGINT) AS span_frames
FROM segs
GROUP BY media_id, seg_id
ORDER BY media_id, seg_id
"""


@register("mm_audio_vad_plan", _VAD_ORACLE)
def mm_audio_vad_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD segmentation plan per audio clip: 20 ms frames, deterministic
    stub energy in [0, 1000), voiced iff energy >= 550, voiced runs
    separated by <= 2 silent frames merge into one segment (hangover;
    the LAG-gap > 3 test starts a new one). Emits one plan row per
    segment — (start_ms, end_ms, voiced/span frame counts) — the
    long-form table an ASR batch decoder partitions on.
    """
    audio = (
        _payloads(spark, sf_dir)
        .filter(F.col("media_type") == "audio")
        .select(
            "media_id",
            (F.octet_length("payload").cast("long") * 7).alias(
                "duration_ms"
            ),
        )
    )
    frames = audio.select(
        "media_id",
        "duration_ms",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.expr("duration_ms div 20") - 1,
            )
        ).alias("f"),
    ).select(
        "*",
        (
            (
                F.col("media_id") * 37
                + F.col("f") * F.col("f") * 13
                + F.col("f") * 29
            )
            % 1000
        ).alias("energy"),
    )
    voiced = frames.filter(F.col("energy") >= 550).select(
        "media_id", "duration_ms", "f"
    )
    wm = W.partitionBy("media_id").orderBy("f")
    prev = F.lag("f").over(wm)
    flags = voiced.select(
        "media_id",
        "duration_ms",
        "f",
        F.when(prev.isNull() | (F.col("f") - prev > 3), 1)
        .otherwise(0)
        .alias("new_seg"),
    )
    segs = flags.select(
        "media_id",
        "duration_ms",
        "f",
        F.sum("new_seg").over(wm).alias("seg_id"),
    )
    return (
        segs.groupBy("media_id", "seg_id")
        .agg(
            F.max("duration_ms").alias("duration_ms"),
            (F.min("f") * 20).alias("start_ms"),
            ((F.max("f") + 1) * 20).alias("end_ms"),
            F.count(F.lit(1)).alias("n_voiced_frames"),
            (F.max("f") - F.min("f") + 1).alias("span_frames"),
        )
        .select(
            "media_id",
            "duration_ms",
            "seg_id",
            "start_ms",
            "end_ms",
            "n_voiced_frames",
            "span_frames",
        )
        .orderBy("media_id", "seg_id")
    )


# ---------------------------------------------------------------------------
# mm_ocr_reading_order — document-layout reading order (recursive
# XY-cut, Nagy et al. 1992, flattened to its one-level column case):
# OCR emits text boxes in detection order; the ingest pipeline must
# re-serialize them into reading order (left-to-right columns,
# top-to-bottom within a column) before the text joins the corpus.
# Box GEOMETRY is the deterministic decode-stub contract (no OCR
# engine in this container — coords derive from the fixture; swap for
# a real layout model's output and nothing downstream changes): boxes
# land in one of three well-separated column bands, so the column cut
# is an x-gap islands pass (gap > 150 starts a new column — the
# gaps-islands shape mm_scene_split uses on the time axis, here on x).
# At 100 TB: box explode is map-side; both windows and the final rank
# share the media_id partition key — one shuffle lineage end-to-end.
# ---------------------------------------------------------------------------

_OCR_ORDER_ORACLE = """
WITH page AS (
  SELECT doc_id AS media_id, 6 + doc_id % 7 AS n_boxes
  FROM documents WHERE doc_id % 3 = 0
),
box AS (
  SELECT media_id, b,
         ((media_id * 7 + b * 13) % 3) * 400
           + (media_id + b * 37) % 80 AS x,
         (media_id * 11 + b * 29) % 900 AS y
  FROM page, LATERAL (SELECT unnest(range(0, n_boxes)) AS b)
),
colflag AS (
  SELECT media_id, b, x, y,
         CASE WHEN LAG(x) OVER wx IS NULL THEN 1
              WHEN x - LAG(x) OVER wx > 150 THEN 1
              ELSE 0 END AS new_col
  FROM box
  WINDOW wx AS (PARTITION BY media_id ORDER BY x, y, b)
),
cols AS (
  SELECT media_id, b, x, y,
         SUM(new_col) OVER (PARTITION BY media_id ORDER BY x, y, b)
           AS col_id
  FROM colflag
)
SELECT media_id, CAST(b AS BIGINT) AS box_id,
       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(col_id AS BIGINT) AS col_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY media_id
                               ORDER BY col_id, y, x, b) AS BIGINT)
         AS read_rank
FROM cols
ORDER BY media_id, read_rank
"""


@register("mm_ocr_reading_order", _OCR_ORDER_ORACLE)
def mm_ocr_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reading-order plan per page: x-gap islands assign column ids
    (bands are separated by >= 321 px, threshold 150), then the rank
    orders columns left-to-right and boxes top-to-bottom within each
    (x then box-id tiebreaks keep every ordering total). ROW_NUMBER is
    INT in Spark vs BIGINT in DuckDB — cast (the type-width lint
    class)."""
    page = (
        _payloads(spark, sf_dir)
        .filter(F.col("media_type") == "image")
        .select(
            "media_id", (6 + F.col("media_id") % 7).alias("n_boxes")
        )
    )
    box = page.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("n_boxes") - 1)).alias("b"),
    ).select(
        "media_id",
        "b",
        (
            ((F.col("media_id") * 7 + F.col("b") * 13) % 3) * 400
            + (F.col("media_id") + F.col("b") * 37) % 80
        ).alias("x"),
        ((F.col("media_id") * 11 + F.col("b") * 29) % 900).alias("y"),
    )
    wx = W.partitionBy("media_id").orderBy("x", "y", "b")
    prev = F.lag("x").over(wx)
    cols = box.select(
        "media_id",
        "b",
        "x",
        "y",
        F.sum(
            F.when(prev.isNull() | (F.col("x") - prev > 150), 1).otherwise(0)
        )
        .over(wx)
        .alias("col_id"),
    )
    wr = W.partitionBy("media_id").orderBy("col_id", "y", "x", "b")
    return cols.select(
        "media_id",
        F.col("b").cast("long").alias("box_id"),
        "x",
        "y",
        "col_id",
        F.row_number().over(wr).cast("long").alias("read_rank"),
    ).orderBy("media_id", "read_rank")
