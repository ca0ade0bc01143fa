"""Spark's xxhash64(...) reproduced over Python/DuckDB values, so results
computed outside Spark can be fingerprinted the way the harness
fingerprints Spark results: row count plus bit_xor over rows of
xxhash64(col_1, ..., col_n) with seed 42, each column's hash seeding the
next and NULLs passing the seed through.

Column types are Spark simpleString names after the harness's
canonicalisation (integral types as bigint, float and decimal as double);
bigint, double, string and timestamp columns are supported, the types the
benchmark's results have, and are hashed with numpy, vectorised over rows.
"""
import datetime
import struct

import numpy as np

M = (1 << 64) - 1
P1, P2, P3, P4, P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                      0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
U = np.uint64
EPOCH = datetime.datetime(1970, 1, 1)


def _rotl(x, r):
    return (x << U(r)) | (x >> U(64 - r))


def _fmix(h):
    h = h ^ (h >> U(33))
    h = h * U(P2)
    h = h ^ (h >> U(29))
    h = h * U(P3)
    return h ^ (h >> U(32))


def hash_long(v, seed):
    """XXH64 of 8-byte little-endian words `v` (uint64 arrays)."""
    with np.errstate(over="ignore"):
        h = seed + U(P5) + U(8)
        h = h ^ (_rotl(v * U(P2), 31) * U(P1))
        h = _rotl(h, 27) * U(P1) + U(P4)
        return _fmix(h)


def _hash_bytes_same_len(words, n, seed):
    """XXH64 of rows of equal byte length `n`; `words` is a uint8 matrix."""
    with np.errstate(over="ignore"):
        rows = words.shape[0]
        padded = np.zeros((rows, ((n + 7) // 8) * 8 + 8), dtype=np.uint8)
        padded[:, :n] = words
        w64 = padded.view("<u8")
        off = 0
        if n >= 32:
            v1, v2, v3, v4 = seed + U(P1) + U(P2), seed + U(P2), seed + U(0), seed - U(P1)
            while off <= n - 32:
                k = off // 8
                v1 = _rotl(v1 + w64[:, k] * U(P2), 31) * U(P1)
                v2 = _rotl(v2 + w64[:, k + 1] * U(P2), 31) * U(P1)
                v3 = _rotl(v3 + w64[:, k + 2] * U(P2), 31) * U(P1)
                v4 = _rotl(v4 + w64[:, k + 3] * U(P2), 31) * U(P1)
                off += 32
            h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
            for v in (v1, v2, v3, v4):
                h = h ^ (_rotl(v * U(P2), 31) * U(P1))
                h = h * U(P1) + U(P4)
        else:
            h = seed + U(P5)
        h = h + U(n)
        while off + 8 <= n:
            h = h ^ (_rotl(w64[:, off // 8] * U(P2), 31) * U(P1))
            h = _rotl(h, 27) * U(P1) + U(P4)
            off += 8
        if off + 4 <= n:
            w32 = padded[:, off:off + 4].copy().view("<u4")[:, 0].astype(U)
            h = h ^ (w32 * U(P1))
            h = _rotl(h, 23) * U(P2) + U(P3)
            off += 4
        while off < n:
            h = h ^ (padded[:, off].astype(U) * U(P5))
            h = _rotl(h, 11) * U(P1)
            off += 1
        return _fmix(h)


def hash_bytes(values, seed):
    """XXH64 of each bytes object in `values` with per-row seeds."""
    out = np.empty(len(values), dtype=U)
    lens = np.fromiter((len(b) for b in values), dtype=np.int64, count=len(values))
    for n in np.unique(lens):
        idx = np.nonzero(lens == n)[0]
        buf = np.frombuffer(b"".join(values[i] for i in idx), dtype=np.uint8)
        out[idx] = _hash_bytes_same_len(buf.reshape(len(idx), int(n)), int(n), seed[idx])
    return out


def _bits_double(x):
    return struct.unpack("<Q", struct.pack("<d", float(x)))[0]


def _micros(v):
    d = v - EPOCH
    return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds


def row_hashes(columns, types):
    """xxhash64 over the given columns (lists of Python values), seed 42."""
    n = len(columns[0]) if columns else 0
    seed = np.full(n, 42, dtype=U)
    for col, t in zip(columns, types):
        idx = np.array([i for i, v in enumerate(col) if v is not None], dtype=np.int64)
        vals = [col[i] for i in idx]
        if t == "bigint":
            new = hash_long(np.array([int(v) & M for v in vals], dtype=U), seed[idx])
        elif t == "double":
            new = hash_long(np.array([_bits_double(v) for v in vals], dtype=U), seed[idx])
        elif t.startswith("timestamp"):
            new = hash_long(np.array([_micros(v) & M for v in vals], dtype=U), seed[idx])
        elif t == "string":
            new = hash_bytes([v.encode("utf-8") for v in vals], seed[idx])
        else:
            raise ValueError(f"no Spark hash for column type {t}")
        seed[idx] = new
    return seed


def fingerprint(columns, types):
    """(rows, signed 64-bit bit_xor of row hashes) as Spark reports them."""
    h = row_hashes(columns, types)
    x = int(np.bitwise_xor.reduce(h)) if len(h) else 0
    return len(h), x - (1 << 64) if x >= (1 << 63) else x
