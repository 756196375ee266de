"""Declared queries: multimodal binary columns (SURVEY.md §2.11 X7, §2.1 S6).

Rows-only (the oracle has no binary-file reader); exactness is asserted in
tests/test_multimodal.py against the deterministic fixture generator.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from r_e_hive__spark.catalog import remove_at_exit
from r_e_hive__spark.operators.multimodal import (
    extract_metadata,
    read_binary_dir,
    real_format_fixtures,
    write_blob_fixtures,
    write_real_blob_fixtures,
)
from r_e_hive__spark.queries import query

_BLOB_DIR = None


def _blob_dir() -> str:
    global _BLOB_DIR
    if _BLOB_DIR is None:
        _BLOB_DIR = tempfile.mkdtemp(prefix="rehive_blobs_")
        remove_at_exit(_BLOB_DIR)
        write_blob_fixtures(_BLOB_DIR)
        write_real_blob_fixtures(_BLOB_DIR)  # real PNG/WAV/BMP (round 4)
    return _BLOB_DIR


def _x7_oracle(n: int = 24) -> str:
    """Golden inline-VALUES oracle: expected metadata in closed form from the
    fixture-generator parameters (w/h/kind cycles, payload = 64+i bytes,
    file length = 9-byte header + payload) — computed here independently of
    the Spark decode path, so the differential check covers the binaryFile
    scan, Arrow batching, and header parse end-to-end.

    The six REAL-format rows (PNG via the actual zlib encoder, PCM WAV,
    24-bit BMP, uncompressed RGB TIFF, ISO-BMFF MP4, MPEG-1 L3 MP3 —
    the video/audio containers added in round 5) carry closed-form
    metadata too:
    pixel/sample math from the generator parameters (20×12×3 PNG = 720
    pixel bytes; 1234 16-bit mono samples = 2468 PCM bytes in a
    44-byte-header file; 17×9 BMP = 459 pixel bytes in 54 + 9·52 padded
    bytes; 11×7 TIFF = 231 strip bytes in an 8 + 231 + 6 + 2 + 9·12 + 4 =
    359-byte file).  Only the PNG's FILE length comes from the
    deterministic encoder itself (zlib output size has no closed form)."""
    kinds = ("image", "audio", "video")
    rows = [
        f"('proof_{i:04d}.bin', CAST({9 + 64 + i} AS BIGINT), '{kinds[i % 3]}', "
        f"{16 + (i * 7) % 240}, {16 + (i * 13) % 240}, CAST({64 + i} AS BIGINT))"
        for i in range(n)
    ]
    png_len = len(real_format_fixtures()["real_0000.png"])
    rows += [
        f"('real_0000.png', CAST({png_len} AS BIGINT), 'image', 20, 12, CAST(720 AS BIGINT))",
        f"('real_0001.wav', CAST({44 + 2468} AS BIGINT), 'audio', "
        f"CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST(2468 AS BIGINT))",
        f"('real_0002.bmp', CAST({54 + 9 * 52} AS BIGINT), 'image', 17, 9, CAST(459 AS BIGINT))",
        f"('real_0003.tif', CAST({8 + 231 + 6 + 2 + 9 * 12 + 4} AS BIGINT), "
        f"'image', 11, 7, CAST(231 AS BIGINT))",
        # MP4 (round 5): 20-byte ftyp + (8+16) mdat + 257-byte moov
        # (8 + mvhd 108 + trak[8 + tkhd 92 + mdia[8 + hdlr 33]]) = 301;
        # payload = the mdat body
        f"('real_0004.mp4', CAST(301 AS BIGINT), 'video', 64, 36, CAST(16 AS BIGINT))",
        # MP3 (round 5): 5 MPEG-1 L3 frames of 144*64000/44100 = 208 bytes
        f"('real_0005.mp3', CAST({5 * 208} AS BIGINT), 'audio', "
        f"CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST({5 * 208} AS BIGINT))",
    ]
    return (
        "SELECT * FROM (VALUES\n    "
        + ",\n    ".join(rows)
        + ") AS t(file_name, length, kind, width, height, payload_bytes)\n"
        + "ORDER BY file_name"
    )


@query(
    "x7_multimodal_metadata",
    _x7_oracle(),  # golden VALUES derived from the fixture spec
    survey_rows=("X7", "S6"),
    doc="binaryFile ingest + Arrow-batched metadata extraction "
    "(REHV stub + real PNG/WAV/BMP/TIFF/MP4/MP3 parsers).",
)
def x7_multimodal_metadata(spark, sf_dir):
    """Binary artifact ingest (payment-proof analog, render-complete-
    deploy.js:181-195) → mapInPandas decode → typed metadata.  The fixture
    dir mixes REHV stub blobs with REAL formats (PNG / PCM WAV / 24-bit
    BMP / uncompressed RGB TIFF / ISO-BMFF MP4 / MPEG-1 Layer III MP3)
    decoded by the pure-stdlib codecs in functions/."""
    blobs = read_binary_dir(spark, _blob_dir())
    meta = extract_metadata(blobs)
    return (
        meta.select(
            F.regexp_extract("path", r"([^/]+)$", 1).alias("file_name"),
            "length",
            "kind",
            "width",
            "height",
            "payload_bytes",
        )
        .orderBy("file_name")
    )
