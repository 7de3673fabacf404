"""Vectorized LEB128 varint / zigzag codecs (Go ``binary.PutUvarint`` /
``binary.PutVarint`` semantics, used by the reference's stream headers:
``helpers.go:187-199`` ``writeVariant``/``writeUVariant``).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "uvarint",
    "varint",
    "uvarint_array",
    "varint_array",
    "read_uvarint",
    "read_varint",
    "zigzag",
    "unzigzag",
    "MAX_VALUES",
]

# decode-side allocation cap on the values one stream header may claim
# (reference WithMaximumMemorySize, alloc.go): run-length-like streams
# (width-0 FOR, zero-width delta-BP miniblocks) describe many values in
# a few bytes, so the claim alone must not size an allocation
MAX_VALUES = 1 << 28

_SHIFTS = np.arange(0, 70, 7, dtype=np.uint64)  # 10 groups cover 64 bits


def zigzag(x: np.ndarray | int) -> np.ndarray | int:
    """int64 -> uint64 zigzag (Go PutVarint: ux = x<<1 ^ x>>63)."""
    if isinstance(x, (int, np.integer)):
        x = int(x)
        return ((x << 1) ^ (x >> 63)) & ((1 << 64) - 1)
    x = x.astype(np.int64, copy=False)
    return (x.astype(np.uint64) << np.uint64(1)) ^ (x >> np.int64(63)).astype(np.uint64)


def unzigzag(u: np.ndarray | int):
    if isinstance(u, (int, np.integer)):
        u = int(u)
        return (u >> 1) ^ -(u & 1)
    u = u.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)) ^ (~(u & np.uint64(1)) + np.uint64(1))).astype(np.int64)


def uvarint(v: int) -> bytes:
    out = bytearray()
    v = int(v)
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def varint(v: int) -> bytes:
    return uvarint(zigzag(int(v)))


def uvarint_array(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a uint64 array as concatenated uvarints.

    Returns ``(bytes_u8, lengths)`` where ``bytes_u8`` is a flat uint8 array
    of all encodings back-to-back and ``lengths[i]`` the byte length of the
    i-th value's encoding.
    """
    v = vals.astype(np.uint64, copy=False)
    n = len(v)
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    groups = (v[:, None] >> _SHIFTS) & np.uint64(0x7F)  # (n, 10)
    nonzero = (v[:, None] >> _SHIFTS) != 0  # group needed if any bits remain
    # length = index of highest needed group + 1; value 0 -> length 1
    lengths = np.maximum(nonzero.sum(axis=1), 1).astype(np.int64)
    mat = groups.astype(np.uint8)
    cols = np.arange(10)
    cont = cols[None, :] < (lengths - 1)[:, None]  # continuation bit per byte
    mat = np.where(cont, mat | 0x80, mat)
    keep = cols[None, :] < lengths[:, None]
    return mat[keep], lengths


def varint_array(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Zigzag varint encode an int64 array -> (flat uint8 bytes, lengths)."""
    return uvarint_array(zigzag(vals))


def read_uvarint(buf, pos: int) -> tuple[int, int]:
    """Read one uvarint from ``buf`` at ``pos`` -> (value, new_pos)."""
    result = 0
    shift = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise ValueError("truncated uvarint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result & ((1 << 64) - 1), pos
        shift += 7
        if shift >= 70:
            raise ValueError("uvarint too long")


def read_varint(buf, pos: int) -> tuple[int, int]:
    u, pos = read_uvarint(buf, pos)
    return unzigzag(u), pos
