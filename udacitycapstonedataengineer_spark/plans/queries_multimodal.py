"""Multimodal queries: binary-payload feature extraction and frame
sampling over mapInPandas, oracle-checked on the byte-exact columns
(n_bytes, md5, frame arithmetic — engine-independent facts). The
decoded-signal statistic (mean_byte) is deliberately outside the oracle
projection and is verified against numpy in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.multimodal import (
    FRAME_BYTES,
    extract_features,
    png_roundtrip,
    sample_frames,
    synthesize_media,
)
from .registry import query


@query(
    "multimodal_features",
    """
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def _multimodal_features(spark, t):
    # binary payload → Arrow-batched pandas UDF feature extraction
    feats = extract_features(synthesize_media(t["documents"]))
    return feats.select("doc_id", "media_type", "n_bytes", "content_md5")


@query(
    "multimodal_frame_sample",
    f"""
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_no,
           CAST(f * {FRAME_BYTES} AS BIGINT) AS byte_offset,
           CAST({FRAME_BYTES} AS BIGINT) AS frame_bytes
    FROM (
        SELECT doc_id,
               unnest(range(0, octet_length(encode(text)) // {FRAME_BYTES}, 4)) AS f
        FROM documents
    )
    """,
)
def _multimodal_frame_sample(spark, t):
    # 1:N mapInPandas: every 4th 64-byte "frame" becomes a row
    return sample_frames(synthesize_media(t["documents"]))


@query(
    "multimodal_meta_stats",
    """
    SELECT CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS media_type,
           count(*) AS n_items,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(CASE WHEN doc_id % 3 = 0
                         THEN 32 + (doc_id % 8) * 16 END) AS INT) AS max_width
    FROM documents
    GROUP BY 1
    """,
)
def _multimodal_meta_stats(spark, t):
    # metadata-only aggregation: pure columnar plan, payload column is
    # pruned from the scan entirely (the 100 TB win of split metadata)
    media = synthesize_media(t["documents"])
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.width").alias("max_width"),
    )


@query(
    "multimodal_audio_windows",
    """
    SELECT doc_id,
           CAST(w AS BIGINT) AS window_no,
           CAST(w * 64 AS BIGINT) AS byte_offset,
           md5(substring(text, w * 64 + 1, 128)) AS window_md5
    FROM (
        SELECT doc_id, text,
               unnest(range(0, CASE WHEN length(text) >= 128
                                    THEN (length(text) - 128) // 64 + 1
                                    ELSE 0 END)) AS w
        FROM documents
        WHERE CAST(doc_id % 3 AS INT) = 1
    )
    """,
)
def _multimodal_audio_windows(spark, t):
    # overlapped byte-window framing over the audio payloads. The
    # oracle slices the source VARCHAR — byte-exact here because the
    # synthetic corpus is pure ASCII (asserted in tests); a non-ASCII
    # corpus would need a BLOB-substring oracle, which DuckDB lacks.
    from ..operators.multimodal import window_signal

    return window_signal(synthesize_media(t["documents"]))


@query(
    "multimodal_png_roundtrip",
    """
    SELECT CAST(doc_id % 5 AS INT) AS filter_type,
           COUNT(*) AS n_images,
           COUNT(*) AS n_roundtrip_ok,
           CAST(SUM((32 + (doc_id % 8) * 16)
                    * (32 + (doc_id % 4) * 16) * 3) AS BIGINT)
               AS pixel_bytes_total
    FROM documents
    WHERE doc_id % 3 = 0
    GROUP BY 1
    ORDER BY 1
    """,
)
def _multimodal_png_roundtrip(spark, t):
    # REAL codec work in the decode slot: every image
    # payload is tiled onto its (h, w, 3) metadata grid, PNG-encoded
    # with a per-doc scanline filter (doc_id % 5 cycles all five
    # predictors), decoded back by the stdlib-zlib decoder, and
    # byte-compared. The oracle predicts n_images and pixel bytes from
    # the synthesis formulas and — the actual codec check — expects
    # n_roundtrip_ok == n_images: any filter/inflate/CRC bug in
    # operators/png.py flips roundtrip_ok rows false and hash-fails
    # this query. Per-pixel equality is additionally pinned byte-exact
    # (incl. hand-built container fixtures) in tests/test_png.py.
    rt = png_roundtrip(synthesize_media(t["documents"]))
    return (
        rt.groupBy("filter_type")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.col("roundtrip_ok").cast("long")).alias("n_roundtrip_ok"),
            F.sum("n_pixel_bytes").alias("pixel_bytes_total"),
        )
        .orderBy("filter_type")
    )
