"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A training-data pipeline carries media as ``binary`` columns with a typed
metadata struct alongside. ``synth_media`` generates such a table in real
formats (pq_spark.codecs) and ``media_header_facts`` validates it without
decoding a payload:

- images are spec-compliant 8-bit grayscale **PNG** files,
- audio is **WAV** PCM16 mono,
- video is an MJPEG-style container of PNG frames (header below +
  per-frame length-prefixed PNGs).

Video container format (little-endian):
    magic   u16 = 0x4D4D ('MM')
    kind    u8  = 2
    width   u16
    height  u16
    frames  u16
    then per frame: u32 byte-length + PNG bytes
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .codecs import encode_png, encode_wav

MAGIC = 0x4D4D
SAMPLE_RATE = 16_000


def _make_video(frames: list[np.ndarray], w: int, h: int) -> bytes:
    head = struct.pack("<HBHHH", MAGIC, 2, w, h, len(frames))
    parts = [head]
    for fr in frames:
        png = encode_png(fr)
        parts.append(struct.pack("<I", len(png)) + png)
    return b"".join(parts)


def synth_media(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table (distributed generation):
    real PNGs, real WAVs, PNG-frame video containers."""
    df = spark.range(0, n)
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
    kind_i = (h % 3).cast("int")
    w = (h % 13 + 4).cast("int")
    ht = (h % 11 + 4).cast("int")
    frames = F.when(kind_i == 2, (h % 5 + 2).cast("int")).otherwise(F.lit(1))

    @F.pandas_udf("binary")
    def make_blob(mid: pd.Series, kind: pd.Series, w: pd.Series, ht: pd.Series,
                  fr: pd.Series) -> pd.Series:
        out = []
        for m, k, wi, hi, f in zip(mid, kind, w, ht, fr):
            wi, hi, f = int(wi), int(hi), int(f)
            rng = np.random.default_rng(int(m) + 1)
            payload = rng.integers(0, 256, wi * hi * f, dtype=np.uint8)
            if k == 0:
                out.append(encode_png(payload.reshape(hi, wi)))
            elif k == 1:
                # u8 intensity → PCM16, exactly invertible ((s>>8)+128)
                s16 = ((payload.astype(np.int16) - 128) << 8).astype(np.int16)
                out.append(encode_wav(s16, SAMPLE_RATE))
            else:
                imgs = [payload[i * wi * hi : (i + 1) * wi * hi].reshape(hi, wi)
                        for i in range(f)]
                out.append(_make_video(imgs, wi, hi))
        return pd.Series(out)

    blob = make_blob(F.col("id"), kind_i, w, ht, frames)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")), kind_i + 1
    )
    return df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        blob.alias("blob"),
        F.struct(
            w.alias("width"), ht.alias("height"), frames.alias("frames"),
            F.lit(SAMPLE_RATE).alias("sample_rate"), F.length(blob).alias("n_bytes"),
        ).alias("meta"),
    )


def media_header_facts(media: DataFrame) -> DataFrame:
    """Container-header facts derived ENTIRELY JVM-side from the binary
    column — per kind: row count, total bytes, magic-signature validity,
    parsed header dimensions, and agreement with the typed ``meta`` struct.

    No Python touches the bytes: every field is substring/hex/conv column
    arithmetic (PNG IHDR width/height are big-endian u32 at offsets 16/20;
    WAV sample-rate is little-endian u32 at offset 24 and bits-per-sample
    LE u16 at offset 34; the video container packs LE u16 width/height/
    frames at offsets 3/5/7 — see the module docstring). This is the
    100-TB shape for metadata validation sweeps: a full-corpus scan that
    never deserializes payloads and never leaves whole-stage codegen.

    ``hdr_a``/``hdr_b`` are the kind's primary/secondary header fields
    (image: width/height; audio: sample_rate/bits-per-sample; video:
    width/height); ``meta_agree_n`` counts rows whose parsed header AND
    byte length match the metadata struct exactly (video additionally
    checks the frame count)."""
    b = F.col("blob")

    def _hx(pos: int, ln: int):  # 1-based byte offset → uppercase hex
        return F.hex(F.substring(b, pos, ln))

    def _be(pos: int, ln: int):
        return F.conv(_hx(pos, ln), 16, 10).cast("long")

    def _le(pos: int, ln: int):
        return F.conv(
            F.concat(*[_hx(pos + i, 1) for i in range(ln - 1, -1, -1)]),
            16, 10,
        ).cast("long")

    kind = F.col("kind")
    magic_ok = (
        F.when(kind == "image", _hx(1, 8) == "89504E470D0A1A0A")
        .when(kind == "audio", (_hx(1, 4) == "52494646") & (_hx(9, 4) == "57415645"))
        .otherwise((_hx(1, 2) == "4D4D") & (_hx(3, 1) == "02"))
    )
    hdr_a = (
        F.when(kind == "image", _be(17, 4))
        .when(kind == "audio", _le(25, 4))
        .otherwise(_le(4, 2))
    )
    hdr_b = (
        F.when(kind == "image", _be(21, 4))
        .when(kind == "audio", _le(35, 2))
        .otherwise(_le(6, 2))
    )
    meta_ok = (
        (F.col("meta.n_bytes") == F.length(b))
        & F.when(kind == "audio",
                 (hdr_a == F.col("meta.sample_rate")) & (hdr_b == F.lit(16)))
        .otherwise((hdr_a == F.col("meta.width")) & (hdr_b == F.col("meta.height")))
        & F.when(kind == "video", _le(8, 2) == F.col("meta.frames"))
        .otherwise(F.lit(True))
    )
    return (
        media.select(
            "kind",
            F.length(b).cast("long").alias("_nb"),
            magic_ok.cast("long").alias("_mok"),
            hdr_a.alias("_ha"),
            hdr_b.alias("_hb"),
            meta_ok.cast("long").alias("_magree"),
        )
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_nb").alias("bytes_total"),
            F.sum("_mok").alias("magic_ok_n"),
            F.sum("_ha").alias("hdr_a_sum"),
            F.sum("_hb").alias("hdr_b_sum"),
            F.sum("_magree").alias("meta_agree_n"),
        )
    )
