"""Gorilla-style time-series compression (north-rule storage tier).

Two codecs, following Facebook's Gorilla paper (Pelkonen et al.,
VLDB 2015):

- delta-of-delta timestamps: header (n, t0, d0) then per point a
  variable-length bucket code for dod = (t_i - t_{i-1}) - (t_{i-1} -
  t_{i-2}):   0 → '0';  [-63,64] → '10'+7 bits;  [-255,256] → '110'+9;
  [-2047,2048] → '1110'+12;  else '1111'+64.
- XOR floats: first value raw 64 bits; then xor with previous:
  0 → '0'; else '1' + 6-bit leading-zero count + 6-bit (meaningful
  length - 1) + the meaningful bits. (The paper's reuse-previous-window
  refinement is intentionally dropped: this variant is branch-free to
  ENCODE fully vectorized in NumPy — no per-row Python — at a small
  compression-ratio cost.)

Encoding is 100% vectorized (bit positions computed with cumsum/repeat
and assembled by np.packbits). Decoding walks the bit stream
sequentially (decompression is the cold read path). Roundtrip is
bit-exact: decompress(compress(x)) == x including NaN payloads.
"""

from __future__ import annotations

import struct

import numpy as np

_U64 = np.uint64


def _popcount(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (np.bitwise_count needs NumPy ≥ 2)."""
    x = x.astype(np.uint64, copy=True)
    x = x - ((x >> _U64(1)) & _U64(0x5555555555555555))
    x = (x & _U64(0x3333333333333333)) + ((x >> _U64(2)) & _U64(0x3333333333333333))
    x = (x + (x >> _U64(4))) & _U64(0x0F0F0F0F0F0F0F0F)
    return ((x * _U64(0x0101010101010101)) >> _U64(56)).astype(np.int64)


def _bit_length(x: np.ndarray) -> np.ndarray:
    """Vectorized bit length of uint64 (0 → 0)."""
    x = x.copy()
    for s in (1, 2, 4, 8, 16, 32):
        x |= x >> _U64(s)
    return _popcount(x)


def _pack_stream(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """Assemble a bit stream from (value, nbits) fields, MSB-first.

    Fully vectorized: each field contributes its low `nbits` bits.
    """
    vals = vals.astype(np.uint64)
    nbits = nbits.astype(np.int64)
    keep = nbits > 0
    vals, nbits = vals[keep], nbits[keep]
    total = int(nbits.sum())
    if total == 0:
        return b""
    ends = np.cumsum(nbits)
    starts = ends - nbits
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, nbits)
    shift = (np.repeat(nbits, nbits) - 1 - within).astype(np.uint64)
    bitvals = ((np.repeat(vals, nbits) >> shift) & _U64(1)).astype(np.uint8)
    return np.packbits(bitvals).tobytes()


class _BitReader:
    def __init__(self, buf: bytes):
        self.bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        out = 0
        for b in self.bits[self.pos : self.pos + n]:
            out = (out << 1) | int(b)
        self.pos += n
        return out


# ------------------------------------------------------------- timestamps

_TS_BUCKETS = (
    (63, 64, 0b10, 2, 7),
    (255, 256, 0b110, 3, 9),
    (2047, 2048, 0b1110, 4, 12),
)


def compress_ts(ts: np.ndarray) -> bytes:
    """Delta-of-delta compress int64 timestamps (any unit)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = ts.size
    header = struct.pack("<qqq", n, int(ts[0]) if n else 0, int(ts[1] - ts[0]) if n > 1 else 0)
    if n <= 2:
        return header
    deltas = np.diff(ts)
    dod = np.diff(deltas)  # length n-2
    prefix_vals = np.zeros(dod.size, dtype=np.uint64)
    prefix_bits = np.ones(dod.size, dtype=np.int64)  # default '0' (dod==0)
    pay_vals = np.zeros(dod.size, dtype=np.uint64)
    pay_bits = np.zeros(dod.size, dtype=np.int64)
    done = dod == 0
    for lo, hi, code, cbits, pbits in _TS_BUCKETS:
        m = (~done) & (dod >= -lo) & (dod <= hi)
        prefix_vals[m] = code
        prefix_bits[m] = cbits
        pay_vals[m] = (dod[m] + lo).astype(np.uint64)  # bias to unsigned
        pay_bits[m] = pbits
        done |= m
    rest = ~done
    prefix_vals[rest] = 0b1111
    prefix_bits[rest] = 4
    pay_vals[rest] = dod[rest].astype(np.uint64)  # two's complement 64-bit
    pay_bits[rest] = 64
    vals = np.column_stack([prefix_vals, pay_vals]).ravel()
    nbits = np.column_stack([prefix_bits, pay_bits]).ravel()
    return header + _pack_stream(vals, nbits)


def decompress_ts(buf: bytes) -> np.ndarray:
    n, t0, d0 = struct.unpack_from("<qqq", buf, 0)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = t0
    if n == 1:
        return out
    out[1] = t0 + d0
    r = _BitReader(buf[24:])
    delta = d0
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            raw = r.read(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        delta += dod
        out[i] = out[i - 1] + delta
    return out


# ------------------------------------------------------------------ floats


def compress_values(vals: np.ndarray) -> bytes:
    """Gorilla XOR compress float64 values (bit-exact, NaN-safe)."""
    v = np.asarray(vals, dtype=np.float64)
    n = v.size
    header = struct.pack("<q", n)
    if n == 0:
        return header
    bits = v.view(np.uint64)
    first = struct.pack("<Q", int(bits[0]))
    if n == 1:
        return header + first
    xors = bits[1:] ^ bits[:-1]
    zero = xors == 0
    lead = np.minimum(64 - _bit_length(xors), 63)
    # trailing zeros via popcount((x & -x) - 1)
    lowbit = xors & (~xors + _U64(1))
    trail = _popcount(lowbit - _U64(1))
    trail[xors == 0] = 0
    siglen = np.maximum(64 - lead - trail, 1)
    prefix_vals = np.where(
        zero,
        _U64(0),
        (_U64(1) << _U64(12)) | (lead.astype(np.uint64) << _U64(6)) | (siglen - 1).astype(np.uint64),
    )
    prefix_bits = np.where(zero, 1, 13)
    pay_vals = np.where(zero, _U64(0), xors >> trail.astype(np.uint64))
    pay_bits = np.where(zero, 0, siglen)
    stream_vals = np.column_stack([prefix_vals, pay_vals]).ravel()
    stream_bits = np.column_stack([prefix_bits, pay_bits]).ravel()
    return header + first + _pack_stream(stream_vals, stream_bits)


def decompress_values(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<q", buf, 0)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    (first,) = struct.unpack_from("<Q", buf, 8)
    out[0] = first
    if n == 1:
        return out.view(np.float64)
    r = _BitReader(buf[16:])
    prev = first
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        lead = r.read(6)
        siglen = r.read(6) + 1
        sig = r.read(siglen)
        trail = 64 - lead - siglen
        xor = sig << trail
        prev = prev ^ xor
        out[i] = prev
    return out.view(np.float64)
