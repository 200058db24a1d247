"""Vectorized MurmurHash3 x64-128 — the Apache DataSketches hash.

The reference's sketches are the Apache DataSketches C++ library
(/root/reference/vcpkg.json pulls apache/datasketches-cpp), whose
update path hashes every input with MurmurHash3 x64-128 under
DEFAULT_UPDATE_SEED = 9001 and keeps ``h1 >> 1`` (the positive 63-bit
space).  Reproducing that hash bit-for-bit is what makes our theta
blobs genuinely wire-compatible: the same input values produce the
same retained hashes as DuckDB/Druid/Hive, so sketches merge correctly
across systems, not just parse.

This is a from-scratch numpy implementation of the public MurmurHash3
algorithm (Austin Appleby, public domain; also specified in the Apache
DataSketches docs).  Verified three independent ways in
tests/test_murmur_wire.py:

- the SMHasher verification constant for MurmurHash3_x64_128
  (0x6384BA69), which pins the full algorithm over all tail lengths;
- the seed-hash bytes of the reference's golden CPC blob
  (test/sql/datasketch_cpc.test:17 bytes 6-7 = 0x93CC), which pin
  ``compute_seed_hash(9001)``;
- the coupon of the reference's golden HLL blob
  (test/sql/datasketch_hll.test:17 bytes 8-11 = 0x08E6657B for
  ``datasketch_hll(8, 5)``), which pins the int64 canonicalization and
  both 64-bit lanes for the default seed.

Layout note: variable-length input is processed by bucketing rows on
their full-16-byte-block count, so total work is proportional to total
bytes (no padding to the global max).  Zero-padded tails need no
masking: a zero k1/k2 tail transform is ``h ^= 0`` — an identity,
exactly what the scalar algorithm computes for absent bytes.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pyarrow as pa

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_F1 = np.uint64(0xFF51AFD7ED558CCD)
_F2 = np.uint64(0xC4CEB9FE1A85EC53)

DEFAULT_UPDATE_SEED = 9001


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * _F1
    k = k ^ (k >> np.uint64(33))
    k = k * _F2
    return k ^ (k >> np.uint64(33))


def _finalize(h1, h2, lens):
    h1 = h1 ^ lens
    h2 = h2 ^ lens
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2


def _fmix_inplace(k: np.ndarray, tmp: np.ndarray) -> None:
    np.right_shift(k, np.uint64(33), out=tmp)
    k ^= tmp
    k *= _F1
    np.right_shift(k, np.uint64(33), out=tmp)
    k ^= tmp
    k *= _F2
    np.right_shift(k, np.uint64(33), out=tmp)
    k ^= tmp


def murmur3_u64(keys: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """x64-128 of fixed 8-byte little-endian keys (one uint64 each).

    Equivalent to hashing each key's 8 LE bytes: no full block, an
    8-byte tail into k1 only, then finalization with len=8.  Written
    with in-place numpy ops (two live temporaries) and processed in
    512k-key slices so the working set stays in cache — measured
    34 M keys/s on 10M keys (vs 21 unchunked, 3 naive).
    """
    chunk = 1 << 19
    if keys.size > chunk:
        parts = [
            murmur3_u64(keys[i : i + chunk], seed)
            for i in range(0, keys.size, chunk)
        ]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )
    s = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        h1 = keys.astype(np.uint64, copy=True)
        tmp = np.empty_like(h1)
        # mixK1 in place: h1 holds k1
        h1 *= _C1
        np.right_shift(h1, np.uint64(33), out=tmp)
        h1 <<= np.uint64(31)
        h1 |= tmp
        h1 *= _C2
        # h1 = mixk1 ^ seed ^ len ; h2 = seed ^ len  (scalar until here)
        h1 ^= s ^ np.uint64(8)
        h2s = np.uint64(int(s) ^ 8)
        h1 += h2s
        h2 = h1 + h2s  # h2 = (seed^8) + h1
        _fmix_inplace(h1, tmp)
        _fmix_inplace(h2, tmp)
        h1 += h2
        h2 += h1
        return h1, h2


def murmur3_bytes(
    data: np.ndarray, offsets: np.ndarray, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """x64-128 over variable-length rows of a flat uint8 buffer.

    ``offsets`` is the (n+1)-long Arrow-style boundary array; row i is
    ``data[offsets[i]:offsets[i+1]]``.  Rows are bucketed by their
    count of full 16-byte blocks so work is O(total bytes).
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    n = offsets.size - 1
    lens = np.diff(offsets)
    starts = offsets[:-1]
    out1 = np.empty(n, dtype=np.uint64)
    out2 = np.empty(n, dtype=np.uint64)
    nblocks = lens >> 4
    with np.errstate(over="ignore"):
        for nb in np.unique(nblocks):
            sel = np.flatnonzero(nblocks == nb)
            st = starts[sel]
            ln = lens[sel]
            m = sel.size
            h1 = np.full(m, np.uint64(seed & 0xFFFFFFFFFFFFFFFF))
            h2 = h1.copy()
            if nb:
                idx = st[:, None] + np.arange(nb * 16, dtype=np.int64)[None, :]
                body = (
                    np.ascontiguousarray(data[idx])
                    .view("<u8")
                    .reshape(m, int(nb) * 2)
                )
                for j in range(int(nb)):
                    k1 = body[:, 2 * j].copy()
                    k2 = body[:, 2 * j + 1].copy()
                    k1 = k1 * _C1
                    k1 = _rotl(k1, 31)
                    k1 = k1 * _C2
                    h1 = h1 ^ k1
                    h1 = _rotl(h1, 27)
                    h1 = h1 + h2
                    h1 = h1 * np.uint64(5) + np.uint64(0x52DCE729)
                    k2 = k2 * _C2
                    k2 = _rotl(k2, 33)
                    k2 = k2 * _C1
                    h2 = h2 ^ k2
                    h2 = _rotl(h2, 31)
                    h2 = h2 + h1
                    h2 = h2 * np.uint64(5) + np.uint64(0x38495AB5)
            # tail: zero-padded 16 bytes; zero k1/k2 transforms are
            # identities, so no per-row masking is needed
            tail_len = ln - nb * 16
            tpos = np.arange(16, dtype=np.int64)[None, :]
            tidx = st[:, None] + nb * 16 + tpos
            valid = tpos < tail_len[:, None]
            tail = np.zeros((m, 16), dtype=np.uint8)
            if data.size:
                np.copyto(tail, data[np.minimum(tidx, data.size - 1)], where=valid)
            tq = tail.view("<u8")
            k1 = tq[:, 0].copy()
            k2 = tq[:, 1].copy()
            k2 = k2 * _C2
            k2 = _rotl(k2, 33)
            k2 = k2 * _C1
            h2 = h2 ^ k2
            k1 = k1 * _C1
            k1 = _rotl(k1, 31)
            k1 = k1 * _C2
            h1 = h1 ^ k1
            h1, h2 = _finalize(h1, h2, ln.astype(np.uint64))
            out1[sel] = h1
            out2[sel] = h2
    return out1, out2


def murmur3_one(key: bytes, seed: int) -> tuple[int, int]:
    """Scalar convenience over a single byte string."""
    data = np.frombuffer(key, dtype=np.uint8)
    h1, h2 = murmur3_bytes(data, np.array([0, len(key)], dtype=np.int64), seed)
    return int(h1[0]), int(h2[0])


def compute_seed_hash(seed: int = DEFAULT_UPDATE_SEED) -> int:
    """Apache's 16-bit seed hash: murmur(LE64(seed), seed=0).h1 & 0xFFFF.

    For the default seed 9001 this is 0x93CC — confirmed by bytes 6-7
    of the reference's golden CPC blob (test/sql/datasketch_cpc.test:17).
    """
    h1, _ = murmur3_u64(np.array([seed], dtype=np.uint64), 0)
    sh = int(h1[0]) & 0xFFFF
    if sh == 0:
        raise ValueError("seed hashes to zero; choose a different seed")
    return sh


DEFAULT_SEED_HASH = 0x93CC  # compute_seed_hash(9001); asserted in tests

_NAN_BITS = np.uint64(0x7FF8000000000000)


def canonical_u64(values: np.ndarray) -> np.ndarray:
    """Apache input canonicalization to one uint64 per numeric value.

    Integral types widen to int64 and hash their 8 LE bytes; floats
    widen to double and hash the IEEE bit pattern with -0.0 -> 0.0 and
    every NaN -> the canonical quiet NaN (datasketches-cpp
    canonical_double).  Note 5 (int) and 5.0 (double) therefore hash
    DIFFERENTLY — same as the reference.
    """
    arr = np.asarray(values)
    if arr.dtype.kind in "iub":
        return arr.astype(np.int64).view(np.uint64)
    if arr.dtype.kind == "f":
        a = arr.astype(np.float64, copy=True)
        a[a == 0.0] = 0.0
        bits = a.view(np.uint64)
        bits[np.isnan(a)] = _NAN_BITS
        return bits
    raise TypeError(f"unsupported dtype for hashing: {arr.dtype}")


def theta_hash_values(values, seed: int = DEFAULT_UPDATE_SEED) -> np.ndarray:
    """Apache-compatible theta hashes: murmur3.h1 >> 1, zeros dropped."""
    return theta_hash_rows(values, seed)[0]


def theta_hash_rows(
    values, seed: int = DEFAULT_UPDATE_SEED
) -> tuple[np.ndarray, np.ndarray | None]:
    """:func:`theta_hash_values` plus the mask of the input rows that
    kept a hash (``None``: every row did)."""
    h1, _, keep = murmur3_rows(values, seed)
    h = h1 >> np.uint64(1)
    nz = h != 0
    if nz.all():
        return h, keep
    if keep is None:
        return h[nz], nz
    keep = keep.copy()
    keep[keep] = nz
    return h[nz], keep


def murmur3_values(
    values, seed: int = DEFAULT_UPDATE_SEED
) -> tuple[np.ndarray, np.ndarray]:
    """Both 64-bit murmur lanes of a value series, Apache-canonicalized.

    Accepts a pandas Series or numpy array; callers drop NULLs first.
    Strings hash their UTF-8 bytes, raw bytes hash as-is; EMPTY
    strings/bytes are skipped entirely (datasketches-cpp
    update(const std::string&) returns without updating on empty).
    Theta uses h1 only; HLL/CPC coupons need (h1, h2).
    """
    h1, h2, _ = murmur3_rows(values, seed)
    return h1, h2


def murmur3_rows(
    values, seed: int = DEFAULT_UPDATE_SEED
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """:func:`murmur3_values` plus the mask of the input rows that were
    hashed (``None``: every row was; empty strings/bytes are not)."""
    if isinstance(values, pd.Series) and not (
        values.dtype == object or pd.api.types.is_string_dtype(values.dtype)
    ):
        return (*murmur3_u64(canonical_u64(values.to_numpy()), seed), None)
    arr = np.asarray(values) if not isinstance(values, pd.Series) else None
    if arr is not None and arr.dtype != object:
        return (*murmur3_u64(canonical_u64(arr), seed), None)
    # string/bytes path via Arrow buffers (flat bytes + offsets)
    ser = values if isinstance(values, pd.Series) else pd.Series(values, dtype=object)
    first = next((v for v in ser if v is not None), None)
    if first is not None and not isinstance(first, (str, bytes, bytearray)):
        # non-string objects (decimal.Decimal from Spark DecimalType,
        # boxed ints/floats): hash as numerics — DuckDB implicitly
        # casts DECIMAL to DOUBLE for the reference's double-typed
        # sketch functions, so DOUBLE-canonical hashing is the
        # cross-system-compatible semantics
        try:
            num = pd.to_numeric(ser)
        except (ValueError, TypeError) as exc:
            raise TypeError(
                f"unsupported value type for hashing: {type(first).__name__}"
            ) from exc
        return (*murmur3_u64(canonical_u64(num.to_numpy()), seed), None)
    typ = pa.large_binary() if isinstance(first, (bytes, bytearray)) else pa.large_utf8()
    pa_arr = pa.array(ser, type=typ, from_pandas=True)
    data, off = arrow_byte_buffers(pa_arr)
    lens = np.diff(off)
    if (lens == 0).any():  # Apache skips empty strings/bytes
        keep = lens > 0
        if not keep.any():
            empty = np.empty(0, dtype=np.uint64)
            return empty, empty, keep
        data, off = arrow_byte_buffers(pa_arr.take(pa.array(np.flatnonzero(keep))))
        return (*murmur3_bytes(data, off, seed), keep)
    return (*murmur3_bytes(data, off, seed), None)


def arrow_byte_buffers(pa_arr) -> tuple[np.ndarray, np.ndarray]:
    """Flat (data, offsets) view of a pyarrow large_utf8/large_binary
    array — the ragged-row form the vectorized hashers consume.
    Shared by the murmur3 (theta/HLL/CPC) and XXH64 (Apache
    BloomFilter) string paths."""
    o = np.frombuffer(pa_arr.buffers()[1], dtype=np.int64)[
        pa_arr.offset : pa_arr.offset + len(pa_arr) + 1
    ]
    b = pa_arr.buffers()[2]
    d = (
        np.frombuffer(b, dtype=np.uint8)
        if b is not None
        else np.empty(0, dtype=np.uint8)
    )
    return d, o


def smhasher_verification() -> int:
    """SMHasher VerificationTest for this implementation (x64-128).

    Hashes keys {0}, {0,1}, ..., {0..254} of length 0..254 with seed
    (256 - len), concatenates the 255 16-byte digests, hashes that with
    seed 0, and returns the first 4 output bytes as a little-endian
    uint32.  Must equal 0x6384BA69 for MurmurHash3_x64_128.
    """
    digests = bytearray()
    key = bytes(range(256))
    for i in range(256):
        h1, h2 = murmur3_one(key[:i], 256 - i)
        digests += struct.pack("<QQ", h1, h2)
    f1, _ = murmur3_one(bytes(digests), 0)
    return f1 & 0xFFFFFFFF
