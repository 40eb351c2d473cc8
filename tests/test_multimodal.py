"""Multimodal plumbing: real PNG/WAV encoders under a JVM-side header parser."""

import struct
import zlib

import numpy as np
from pyspark.sql import functions as F

from pq_spark.codecs import encode_png, encode_wav
from pq_spark.multimodal import synth_media


def _png_chunks(png: bytes) -> list[tuple[bytes, bytes]]:
    """(type, body) of each PNG chunk, each CRC checked."""
    out, pos = [], 8
    while pos < len(png):
        (n,) = struct.unpack_from(">I", png, pos)
        typ, body = png[pos + 4 : pos + 8], png[pos + 8 : pos + 8 + n]
        assert struct.unpack_from(">I", png, pos + 8 + n)[0] == zlib.crc32(typ + body)
        out.append((typ, body))
        pos += 12 + n
    return out


def test_encoders_write_their_input():
    """The encoders' payload, read back without a decoder: the PNG IDAT
    inflates to one filter-0 byte plus the raw pixels per scanline, and
    the WAV fmt/data chunks hold the rate and the samples."""
    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (16, 16), (11, 4)]:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        png = encode_png(img)
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        (_, ihdr), (_, idat), iend = _png_chunks(png)
        assert struct.unpack(">IIBBBBB", ihdr) == (w, h, 8, 0, 0, 0, 0)
        assert iend == (b"IEND", b"")
        rows = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, w + 1)
        assert (rows[:, 0] == 0).all()
        assert np.array_equal(rows[:, 1:], img)

    s = rng.integers(-32768, 32767, 441, dtype=np.int16)
    wav = encode_wav(s, 22_050)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    assert struct.unpack_from("<I", wav, 4)[0] == len(wav) - 8
    assert wav[12:20] == b"fmt " + struct.pack("<I", 16)
    assert struct.unpack_from("<HHIIHH", wav, 20) == (1, 1, 22_050, 44_100, 2, 16)
    assert wav[36:44] == b"data" + struct.pack("<I", 2 * len(s))
    assert np.array_equal(np.frombuffer(wav[44:], np.int16), s)


def test_media_header_facts_jvm_parse(spark):
    """The JVM-side header parser (hex/substring/conv — zero Python on the
    bytes) must agree with the codecs' own containers: every synthesized
    blob carries a valid magic AND a header that matches its meta struct
    exactly; per-kind byte totals reconcile with a direct length sum."""
    from pq_spark.multimodal import media_header_facts

    media = synth_media(spark, 120, seed=11).cache()
    # the generator is deterministic: a second build yields the same table
    again = synth_media(spark, 120, seed=11).orderBy("media_id").collect()
    assert media.orderBy("media_id").collect() == again
    facts = {r["kind"]: r for r in media_header_facts(media).collect()}
    totals = {
        r["kind"]: (r["n"], r["b"])
        for r in media.groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("blob")).alias("b"))
        .collect()
    }
    assert set(facts) == {"image", "audio", "video"}
    for kind, row in facts.items():
        n, b = totals[kind]
        assert row["n"] == n and row["bytes_total"] == b
        assert row["magic_ok_n"] == n, f"{kind}: bad magic"
        assert row["meta_agree_n"] == n, f"{kind}: header/meta mismatch"
        assert row["hdr_a_sum"] > 0 and row["hdr_b_sum"] > 0
    media.unpersist()
