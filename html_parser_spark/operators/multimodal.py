"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

The decoders live in functions/mediacodecs.py and are pure stdlib: PNG
(chunk walk, IHDR parse, zlib IDAT inflate, all five per-row filter
inverses), GIF (LZW, every frame), BMP, WAV PCM and baseline T.81 JPEG.
The gate query value-oracles them: the fixture generator stores the
ground-truth dimensions and the md5 of the raw pixel bytes alongside
each blob (``fixtures.encode_png``; for JPEG an independent numpy
reconstruction of the committed coefficients), and the Spark decode
must reproduce them from the blob alone.  Video containers get real
container metadata only (frame decode needs ffmpeg).

At 100 TB, the pattern is: binary blobs stay columnar in parquet, the
``mapInPandas`` stage streams Arrow batches (bounded by
``maxRecordsPerBatch`` — large blobs never amplify into Python lists of
rows), and metadata-only queries prune the binary column entirely.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# ----------------------------------------------------- mixed-format media

MEDIA_SCHEMA = (
    "doc_id bigint, format string, byte_len int, payload_md5 string, "
    "width int, height int, channels int, sample_rate int, n_frames int, "
    "pixel_md5 string, status string"
)

# decode failures route to the status column, never a task crash: at
# corpus scale truncated/corrupt blobs are a certainty, and one bad row
# must not kill a 10^12-row stage.  These are the exception classes the
# pure-stdlib decoders can legitimately raise on hostile bytes.
_DECODE_ERRORS = (ValueError, struct.error, IndexError, EOFError, zlib.error)


def _media_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Sniff-and-dispatch decode.  The format is detected from the magic
    bytes (metadata lies at corpus scale; bytes don't) and each decoder
    re-derives dimensions/audio shape/pixel fingerprint from the payload
    alone.  Since round 5 JPEG decodes for real (pure-stdlib baseline
    T.81: DHT canonical Huffman, dequant, IDCT, YCbCr→RGB), so its
    pixel_md5 is re-derived from the bytes exactly like PNG/GIF/BMP."""
    from ..functions.mediacodecs import (
        avi_metadata,
        decode_bmp,
        decode_gif,
        decode_jpeg,
        decode_png,
        decode_wav,
        mp4_metadata,
        sniff_format,
        webp_metadata,
    )

    cols = (
        "doc_id", "format", "byte_len", "payload_md5", "width", "height",
        "channels", "sample_rate", "n_frames", "pixel_md5", "status",
    )
    for pdf in batches:
        rows: dict[str, list] = {k: [] for k in cols}
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(b)
            fmt = sniff_format(b)
            width = height = channels = sample_rate = n_frames = None
            pixel_md5 = None
            status = "ok"
            try:
                if fmt == "png":
                    width, height, channels, raw = decode_png(b)
                    n_frames, pixel_md5 = 1, hashlib.md5(raw).hexdigest()
                elif fmt == "gif":
                    width, height, n_frames, idx = decode_gif(b)
                    channels, pixel_md5 = 1, hashlib.md5(idx).hexdigest()
                elif fmt == "bmp":
                    width, height, channels, raw = decode_bmp(b)
                    n_frames, pixel_md5 = 1, hashlib.md5(raw).hexdigest()
                elif fmt == "wav":
                    channels, sample_rate, n_frames, pcm = decode_wav(b)
                    pixel_md5 = hashlib.md5(pcm).hexdigest()
                elif fmt == "jpeg":
                    width, height, channels, raw = decode_jpeg(b)
                    n_frames, pixel_md5 = 1, hashlib.md5(raw).hexdigest()
                elif fmt == "mp4":
                    # container metadata is real (ISO-BMFF box walk);
                    # frame decode needs ffmpeg, so pixel_md5 remains
                    # NULL by contract
                    width, height, n_frames, _dur = mp4_metadata(b)
                elif fmt == "avi":
                    width, height, n_frames, _dur = avi_metadata(b)
                elif fmt == "webp":
                    # dimension headers are plain-parseable for all
                    # three chunk flavors; pixel decode needs libwebp
                    # and stays the honest stub (pixel_md5 NULL)
                    width, height, _kind = webp_metadata(b)
            except _DECODE_ERRORS:
                width = height = channels = sample_rate = n_frames = None
                pixel_md5 = None
                status = "decode_error"
            rows["doc_id"].append(doc_id)
            rows["format"].append(fmt)
            rows["byte_len"].append(len(b))
            rows["payload_md5"].append(hashlib.md5(b.hex().encode()).hexdigest())
            rows["width"].append(width)
            rows["height"].append(height)
            rows["channels"].append(channels)
            rows["sample_rate"].append(sample_rate)
            rows["n_frames"].append(n_frames)
            rows["pixel_md5"].append(pixel_md5)
            rows["status"].append(status)
        yield pd.DataFrame(rows)


def media_metadata(blobs: DataFrame) -> DataFrame:
    """mapInPandas over the mixed-format binary column of ``blobs`` (the
    deterministic PNG/GIF/BMP/WAV/JPEG/MP4/AVI/WebP ``media_blobs``
    table) → typed metadata with REAL decoded shape + content
    fingerprints per modality (image pixels, GIF frame indices, WAV
    PCM).  Value-oracled: the DuckDB twin
    reads the generator's stored ground truth AND independently detects
    the container from the hex-encoded magic bytes."""
    return (
        blobs.select("doc_id", "payload")
        .mapInPandas(_media_batches, schema=MEDIA_SCHEMA)
    )


def media_metadata_sql() -> str:
    from ..fixtures import ensure_media_blobs, gate_sf_dir, sf_of

    path = ensure_media_blobs(sf_of(gate_sf_dir()))
    return f"""
    SELECT doc_id,
           CASE
             WHEN substr(lower(hex(payload)), 1, 16) = '89504e470d0a1a0a'
               THEN 'png'
             WHEN substr(lower(hex(payload)), 1, 12) IN
                  ('474946383761', '474946383961') THEN 'gif'
             WHEN substr(lower(hex(payload)), 1, 4) = '424d' THEN 'bmp'
             WHEN substr(lower(hex(payload)), 1, 8) = '52494646'
              AND substr(lower(hex(payload)), 17, 8) = '57415645'
               THEN 'wav'
             WHEN substr(lower(hex(payload)), 1, 6) = 'ffd8ff' THEN 'jpeg'
             WHEN substr(lower(hex(payload)), 1, 8) = '52494646'
              AND substr(lower(hex(payload)), 17, 8) = '57454250'
               THEN 'webp'
             WHEN substr(lower(hex(payload)), 9, 8) = '66747970' THEN 'mp4'
             WHEN substr(lower(hex(payload)), 1, 8) = '52494646'
              AND substr(lower(hex(payload)), 17, 8) = '41564920'
               THEN 'avi'
             ELSE 'unknown'
           END AS format,
           CAST(octet_length(payload) AS INT) AS byte_len,
           md5(lower(hex(payload))) AS payload_md5,
           exp_width AS width,
           exp_height AS height,
           exp_channels AS channels,
           exp_sample_rate AS sample_rate,
           exp_n_frames AS n_frames,
           exp_pixel_md5 AS pixel_md5,
           'ok' AS status
    FROM read_parquet('{path}')
    """
