"""Gorilla-style per-series block compression (delta-of-delta timestamps +
XOR float values), as a vectorized Arrow/pandas kernel.

Layout per block (our own design, following the public Gorilla paper,
Pelkonen et al., VLDB 2015 — "Gorilla: A Fast, Scalable, In-Memory Time
Series Database"):

  header (byte-aligned, little-endian):
      magic  u16  = 0x4731 ('G1')
      n      u32  point count
      t0     i64  first timestamp (ms)
      v0     f64  first value
  bitstream (MSB-first), per point i = 1..n-1, interleaved ts then value:
      timestamp delta-of-delta D (D_1 uses prev_delta = 0):
          D == 0                → '0'
          D ∈ [-63, 64]         → '10'   + (D+63)    in 7 bits
          D ∈ [-255, 256]       → '110'  + (D+255)   in 9 bits
          D ∈ [-2047, 2048]     → '1110' + (D+2047)  in 12 bits
          else                  → '1111' + (D+2^31)  in 32 bits
      value XOR with previous value:
          xor == 0              → '0'
          else                  → '11' + lead(5 bits) + (mlen-1)(6 bits)
                                   + mlen meaningful bits
          (we always emit the '11' new-window control — a valid but
          slightly larger Gorilla stream; this removes the sequential
          window-reuse dependency so the ENCODER is fully vectorizable.
          The decoder also handles the '10' reuse-window case.)

The encoder is pure numpy (no per-point Python): tokens are built as
(bits, nbits) arrays, bit offsets via cumsum, and the scatter into the
bit plane loops only over DISTINCT token widths (≤ ~70 iterations total).
The decoder's token scan is sequential (token widths depend on prior
control bits) but runs at a few integer ops per point via 64-bit window
fetches; timestamp/value reconstruction is vectorized (cumsum + XOR
prefix scan) — fast enough for the query-over-Gorilla serving path.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..engine.frames import fact_skey, narrow_fact
from .tiers import series_dim

_MAGIC = 0x4731


# ---------------------------------------------------------------------------
# vectorized bit helpers
# ---------------------------------------------------------------------------


def _clz64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 array (x > 0), vectorized."""
    x = x.copy()
    n = np.zeros(x.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        hi = (x >> np.uint64(shift)) == 0
        n = np.where(hi, n + shift, n)
        x = np.where(hi, x, x >> np.uint64(shift))
    return n


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Count trailing zeros of uint64 array (x > 0), vectorized."""
    lowbit = x & (~x + np.uint64(1))
    return 63 - _clz64(lowbit)


def _write_bitstream(bits: np.ndarray, nbits: np.ndarray) -> bytes:
    """Concatenate (value, width) tokens MSB-first into a byte string.

    Vectorized: one scatter per DISTINCT width, not per token.
    """
    nbits = nbits.astype(np.int64)
    total = int(nbits.sum())
    plane = np.zeros(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(nbits)[:-1]))
    for w in np.unique(nbits):
        w = int(w)
        if w == 0:
            continue
        sel = nbits == w
        pos = offsets[sel][:, None] + np.arange(w)[None, :]
        shifts = np.uint64(w - 1) - np.arange(w, dtype=np.uint64)[None, :]
        vals = (bits[sel][:, None] >> shifts) & np.uint64(1)
        plane[pos.ravel()] = vals.ravel().astype(np.uint8)
    return np.packbits(plane).tobytes()


def pack_block(ts: np.ndarray, values: np.ndarray) -> bytes:
    """Encode one sorted series block → Gorilla bytes. Pure numpy."""
    ts = np.asarray(ts, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    n = len(ts)
    header = struct.pack("<HIqd", _MAGIC, n, int(ts[0]) if n else 0,
                         float(values[0]) if n else 0.0)
    if n <= 1:
        return header

    deltas = np.diff(ts)
    dod = np.diff(deltas, prepend=np.int64(0))  # D_1 uses prev_delta = 0

    # --- timestamp tokens ---
    c0 = dod == 0
    c1 = ~c0 & (dod >= -63) & (dod <= 64)
    c2 = ~c0 & ~c1 & (dod >= -255) & (dod <= 256)
    c3 = ~c0 & ~c1 & ~c2 & (dod >= -2047) & (dod <= 2048)
    c4 = ~(c0 | c1 | c2 | c3)

    ts_bits = np.zeros(n - 1, dtype=np.uint64)
    ts_nbits = np.zeros(n - 1, dtype=np.int64)
    ts_nbits[c0] = 1
    ts_bits[c0] = 0b0
    ts_nbits[c1] = 2 + 7
    ts_bits[c1] = (0b10 << 7) | (dod[c1] + 63).astype(np.uint64)
    ts_nbits[c2] = 3 + 9
    ts_bits[c2] = (np.uint64(0b110) << np.uint64(9)) | (dod[c2] + 255).astype(np.uint64)
    ts_nbits[c3] = 4 + 12
    ts_bits[c3] = (np.uint64(0b1110) << np.uint64(12)) | (dod[c3] + 2047).astype(np.uint64)
    ts_nbits[c4] = 4 + 32
    ts_bits[c4] = (np.uint64(0b1111) << np.uint64(32)) | (
        (dod[c4] + (1 << 31)).astype(np.uint64)
    )

    # --- value tokens ---
    raw = values.view(np.uint64)
    xor = raw[1:] ^ raw[:-1]
    nz = xor != 0

    lead = np.zeros(n - 1, dtype=np.int64)
    mlen = np.zeros(n - 1, dtype=np.int64)
    if nz.any():
        lz = _clz64(xor[nz])
        tz = _ctz64(xor[nz])
        lz = np.minimum(lz, 31)  # 5-bit leading-zero field
        lead[nz] = lz
        mlen[nz] = 64 - lz - tz

    # control token: '0' (1 bit) or '11'+5+6 = 13 bits
    ctl_bits = np.zeros(n - 1, dtype=np.uint64)
    ctl_nbits = np.ones(n - 1, dtype=np.int64)
    ctl_nbits[nz] = 13
    ctl_bits[nz] = (
        (np.uint64(0b11) << np.uint64(11))
        | (lead[nz].astype(np.uint64) << np.uint64(6))
        | (mlen[nz] - 1).astype(np.uint64)
    )

    # meaningful-bits token (width = mlen, 0 when xor == 0)
    mean_bits = np.zeros(n - 1, dtype=np.uint64)
    mean_nbits = np.zeros(n - 1, dtype=np.int64)
    mean_nbits[nz] = mlen[nz]
    shift = np.zeros(n - 1, dtype=np.uint64)
    shift[nz] = (64 - lead[nz] - mlen[nz]).astype(np.uint64)
    mask = np.zeros(n - 1, dtype=np.uint64)
    mask[nz] = np.uint64(0xFFFFFFFFFFFFFFFF) >> (64 - mlen[nz]).astype(np.uint64)
    mean_bits[nz] = (xor[nz] >> shift[nz]) & mask[nz]

    # interleave: ts, ctl, mean per point
    all_bits = np.stack([ts_bits, ctl_bits, mean_bits], axis=1).ravel()
    all_nbits = np.stack([ts_nbits, ctl_nbits, mean_nbits], axis=1).ravel()
    return header + _write_bitstream(all_bits, all_nbits)


_M64 = (1 << 64) - 1


def unpack_block(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode a Gorilla block → (ts int64[], values float64[]).

    The bitstream is a chain of variable-length tokens whose widths depend
    on previously decoded control bits, so the token SCAN is inherently
    sequential — but it needs only a handful of integer ops per point: a
    64-bit window fetch (two-word shift/or from a precomputed word table)
    plus shift/mask decoding, never a per-bit loop. Everything after the
    scan is pure numpy: timestamps are a double cumsum over the
    delta-of-deltas and values are an XOR prefix scan
    (``np.bitwise_xor.accumulate``) over the decoded XOR tokens. ~40×
    faster than the round-3 per-bit reader (microbench in
    BENCH/BASELINE.md), which matters since query-over-Gorilla serving
    (``pq_instant_over_gorilla``) made thaw a hot path."""
    magic, n, t0, v0 = struct.unpack_from("<HIqd", blob, 0)
    if magic != _MAGIC:
        raise ValueError("bad gorilla block magic")
    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.float64)
    if n == 0:
        return ts, vals
    ts[0] = t0
    vals[0] = v0
    if n == 1:
        return ts, vals

    data = blob[struct.calcsize("<HIqd"):]
    # pad so any 64-bit window fetch inside the encoded region stays in
    # bounds (worst case: a fetch starting at the last encoded bit)
    pad = (-len(data)) % 8 + 16
    words = np.frombuffer(data + b"\x00" * pad, dtype=">u8").tolist()

    pos = 0
    lead = mlen = 0
    dods = [0] * (n - 1)
    xors = [0] * (n - 1)
    for i in range(n - 1):
        # one window covers the widest ts token (36 bits) + value control
        w, off = pos >> 6, pos & 63
        x = ((words[w] << off) | (words[w + 1] >> (64 - off))) & _M64 \
            if off else words[w]
        # timestamp: prefix code '0'/'10'/'110'/'1110'/'1111' + payload
        if x >> 63 == 0:
            pos += 1
        elif (x >> 62) & 1 == 0:
            dods[i] = ((x >> 55) & 0x7F) - 63
            pos += 9
        elif (x >> 61) & 1 == 0:
            dods[i] = ((x >> 52) & 0x1FF) - 255
            pos += 12
        elif (x >> 60) & 1 == 0:
            dods[i] = ((x >> 48) & 0xFFF) - 2047
            pos += 16
        else:
            dods[i] = ((x >> 28) & 0xFFFFFFFF) - (1 << 31)
            pos += 36
        # value: '0' same | '10' reuse window | '11'+5+6 new window,
        # then mlen meaningful bits
        w, off = pos >> 6, pos & 63
        x = ((words[w] << off) | (words[w + 1] >> (64 - off))) & _M64 \
            if off else words[w]
        if x >> 63 == 0:
            pos += 1
            continue
        if (x >> 62) & 1:  # new leading/meaningful window
            lead = (x >> 57) & 0x1F
            mlen = ((x >> 51) & 0x3F) + 1
            pos += 13
            w, off = pos >> 6, pos & 63
            x = ((words[w] << off) | (words[w + 1] >> (64 - off))) & _M64 \
                if off else words[w]
        else:
            pos += 2
            w, off = pos >> 6, pos & 63
            x = ((words[w] << off) | (words[w + 1] >> (64 - off))) & _M64 \
                if off else words[w]
        pos += mlen
        xors[i] = (x >> (64 - mlen)) << (64 - lead - mlen)

    deltas = np.cumsum(np.array(dods, dtype=np.int64))
    ts[1:] = t0 + np.cumsum(deltas)
    raw0 = np.array([v0], dtype=np.float64).view(np.uint64)
    raws = np.bitwise_xor.accumulate(
        np.concatenate([raw0, np.array(xors, dtype=np.uint64)])
    )
    vals[:] = raws.view(np.float64)
    return ts, vals


# ---------------------------------------------------------------------------
# DataFrame-level pack/unpack
# ---------------------------------------------------------------------------

PACKED_SCHEMA = (
    "sig string, block_ts long, name string, labels map<string,string>, "
    "n long, raw_bytes long, blob binary"
)


def pack_blocks(
    samples: DataFrame,
    block_ms: int = 3_600_000,
    dim: DataFrame | None = None,
) -> DataFrame:
    """samples (seq, ts, name, labels, value) → one Gorilla blob per
    (series, block).

    Shuffle key is the SUPER-block ``(series, 24 × block_ms)``
    — a hot series' points still spread across reducers over time (the
    paper's own sharding scheme), while each Python invocation packs many
    blocks at once (``pandas.groupby`` inside the kernel), amortizing the
    per-group Arrow/pandas overhead that would otherwise dominate when
    blocks are small.
    """
    super_ms = block_ms * 24
    if dim is None:
        if narrow_fact(samples):
            raise ValueError("narrow fact input requires an explicit series dim")
        dim = series_dim(samples)
    # NARROW kernel input: 8-byte series keys instead of signature strings;
    # label maps and sigs rejoin from the tiny series dim below.
    # block_ts is a pure function of ts — derive it INSIDE the kernel
    # instead of shipping a fifth long per row through the shuffle and
    # the Arrow boundary (~-15% kernel-input bytes)
    keyed = samples.select(
        fact_skey(samples).alias("skey"),
        (F.col("ts") - F.pmod(F.col("ts"), F.lit(super_ms))).alias("super_ts"),
        "ts", "seq", "value",
    )

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        # (ts, seq) ordering == (block_ts, ts, seq): block_ts is monotone
        # in ts, so deriving it after the sort preserves the block order
        pdf = pdf.sort_values(["ts", "seq"], kind="mergesort")
        pdf = pdf.assign(block_ts=pdf["ts"].to_numpy() - pdf["ts"].to_numpy() % block_ms)
        skey = pdf["skey"].iloc[0]
        out = {k: [] for k in ("skey", "block_ts", "n", "raw_bytes", "blob")}
        for block_ts, grp in pdf.groupby("block_ts", sort=True):
            ts = grp["ts"].to_numpy(dtype=np.int64)
            vals = grp["value"].to_numpy(dtype=np.float64)
            out["skey"].append(skey)
            out["block_ts"].append(block_ts)
            out["n"].append(len(ts))
            out["raw_bytes"].append(len(ts) * 16)
            out["blob"].append(pack_block(ts, vals))
        return pd.DataFrame(out)

    packed = keyed.groupBy("skey", "super_ts").applyInPandas(
        encode,
        "skey long, block_ts long, n long, raw_bytes long, blob binary",
    )
    return packed.join(dim, "skey").select(
        "sig", "block_ts", "name", "labels", "n", "raw_bytes", "blob"
    )


UNPACKED_SCHEMA = ("sig string, name string, labels map<string,string>, "
                   "ts long, value double, seq long")


def unpack_blocks(packed: DataFrame) -> DataFrame:
    """Inverse of pack_blocks (round-trip / selective thaw)."""

    def decode(batches):
        for pdf in batches:
            # per-blob Python is inherent (the codec), but everything
            # AROUND it is vectorized: identity columns fan out via
            # np.repeat and the decoded arrays concatenate once —
            # iterrows built a pandas Series per row and boxed every
            # decoded point through Python lists
            ts_parts, val_parts, counts = [], [], []
            for blob in pdf["blob"]:
                ts, vals = unpack_block(bytes(blob))
                ts_parts.append(ts)
                val_parts.append(vals)
                counts.append(len(ts))
            n = np.array(counts, dtype=np.int64)
            rep = lambda col: np.repeat(col.to_numpy(), n)  # noqa: E731
            empty_i = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "sig": rep(pdf["sig"]),
                    "name": rep(pdf["name"]),
                    "labels": rep(pdf["labels"]),
                    "ts": np.concatenate(ts_parts) if ts_parts else empty_i,
                    "value": (
                        np.concatenate(val_parts)
                        if val_parts
                        else np.array([], dtype=np.float64)
                    ),
                    # blocks store points in (ts, seq) order; the
                    # in-block position therefore reproduces the original
                    # tie-break order for same-millisecond samples
                    # (blocks partition time, so cross-block comparisons
                    # resolve on ts alone) — letting engine queries run
                    # over thawed blocks with exact first/last semantics
                    "seq": (
                        np.concatenate([np.arange(c, dtype=np.int64) for c in counts])
                        if counts
                        else empty_i
                    ),
                }
            )

    return packed.mapInPandas(decode, UNPACKED_SCHEMA)
