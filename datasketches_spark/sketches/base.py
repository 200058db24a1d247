"""Binary serialization framing shared by all sketch families.

The reference exposes sketch state as opaque BLOBs (SURVEY.md §1.2);
here every blob is::

    b'DSKS' | family:uint8 | version:uint8 | payload...

Corrupt or truncated blobs raise ``SketchDeserializeError`` whose
message mirrors the reference's "Failed to deserialize ..." text
(reference codegen/generator.py:71-87).
"""

from __future__ import annotations

import struct

from pandas.api.types import infer_dtype

MAGIC = b"DSKS"
VERSION = 1

# Families whose payload SEMANTICS changed incompatibly bump their
# frame version so blobs persisted before the change fail loudly
# ("Failed to deserialize") instead of parsing and merging silently
# wrong.  Theta/CPC/HLL v2: update hashing moved from splitmix64 to
# Apache-compatible murmur3/9001 (CPC/HLL to the coupon scheme) — a v1
# blob's retained hashes/registers live in a different hash space, so
# unioning it with v2 sketches would double-count every overlap.
# Quantiles v2: the level stack moved from flexible capacities to the
# Apache/MRL exact-k invariant (round 5); a v1 blob's level
# populations would break the new merge's carry bookkeeping.
# REQ v2: the real REQ compactor (round 5) persists per-level
# (state, sectionSize, numSections) the v1 payload never carried.
_FAMILY_VERSIONS: dict[int, int] = {}  # populated below the constants

FAMILY_THETA = 1
FAMILY_KLL = 2
FAMILY_QUANTILES = 3
FAMILY_REQ = 4
FAMILY_TDIGEST = 5
FAMILY_HLL = 6
FAMILY_CPC = 7
FAMILY_FREQUENT_ITEMS = 8
FAMILY_BLOOM = 9
FAMILY_RESERVOIR = 10
FAMILY_CMS = 11
FAMILY_STATS = 12
FAMILY_EBPPS = 13
FAMILY_AOD = 14
FAMILY_FDT = 15
FAMILY_KLL_ITEMS = 16

# Reservoir v2 (round 10): payload gains a `weighted` flag byte so the
# Apache wire exporter can refuse weighted (non-uniform) samples —
# java's ReservoirLongsSketch is uniform-only.
_FAMILY_VERSIONS.update(
    {
        FAMILY_THETA: 2,
        FAMILY_CPC: 2,
        FAMILY_HLL: 2,
        FAMILY_QUANTILES: 2,
        FAMILY_REQ: 2,
        FAMILY_RESERVOIR: 2,
    }
)

FAMILY_NAMES = {
    FAMILY_THETA: "Theta",
    FAMILY_KLL: "KLL",
    FAMILY_QUANTILES: "Quantiles",
    FAMILY_REQ: "REQ",
    FAMILY_TDIGEST: "TDigest",
    FAMILY_HLL: "HLL",
    FAMILY_CPC: "CPC",
    FAMILY_FREQUENT_ITEMS: "Frequent Items",
    FAMILY_BLOOM: "Bloom Filter",
    FAMILY_RESERVOIR: "Reservoir Sample",
    FAMILY_CMS: "Count-Min",
    FAMILY_STATS: "Stats",
    FAMILY_EBPPS: "EBPPS Sample",
    FAMILY_AOD: "Tuple",
    FAMILY_FDT: "FDT",
    FAMILY_KLL_ITEMS: "KLL items",
}

# dtype codes for typed quantile sketches (sketch_kll_double etc.)
DTYPE_FLOAT64 = 1
DTYPE_FLOAT32 = 2
DTYPE_INT64 = 3

DTYPE_CODES = {"float64": DTYPE_FLOAT64, "float32": DTYPE_FLOAT32, "int64": DTYPE_INT64}
DTYPE_FROM_CODE = {v: k for k, v in DTYPE_CODES.items()}


class SketchDeserializeError(ValueError):
    pass


def family_version(family: int) -> int:
    return _FAMILY_VERSIONS.get(family, VERSION)


def frame(family: int, payload: bytes) -> bytes:
    return MAGIC + struct.pack("<BB", family, family_version(family)) + payload


def unframe(blob: bytes, expected_family: int) -> bytes:
    name = FAMILY_NAMES.get(expected_family, "sketch")
    if not isinstance(blob, (bytes, bytearray)) or len(blob) < 6:
        raise SketchDeserializeError(f"Failed to deserialize {name} sketch")
    if bytes(blob[:4]) != MAGIC:
        raise SketchDeserializeError(f"Failed to deserialize {name} sketch")
    family, version = struct.unpack_from("<BB", blob, 4)
    if family != expected_family or version != family_version(expected_family):
        raise SketchDeserializeError(f"Failed to deserialize {name} sketch")
    return bytes(blob[6:])


def is_framed(blob) -> bool:
    """True iff the blob carries this engine's DSKS frame magic (the
    shared sniff used by families that also accept Apache wire blobs)."""
    return (
        isinstance(blob, (bytes, bytearray))
        and len(blob) >= 4
        and bytes(blob[:4]) == MAGIC
    )


def peek_family(blob: bytes) -> int | None:
    """Return the family byte of one of our blobs, or None if foreign."""
    if isinstance(blob, (bytes, bytearray)) and len(blob) >= 6 and bytes(blob[:4]) == MAGIC:
        return blob[4]
    return None


def has_nulls(series) -> bool:
    """``series.hasnans``, cheap on a string column: the all-``str`` type
    scan costs ~9 ns/row, ``isna`` over object cells ~55."""
    if series.dtype == object and infer_dtype(series, skipna=False) == "string":
        return False
    return bool(series.hasnans)
