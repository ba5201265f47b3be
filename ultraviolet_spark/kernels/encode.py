"""Vectorized codepoint-array → UTF-8/16/32 encoders.

Input is a flat ``uint32`` codepoint array plus int64 row offsets, as
the UTF-16/32 decoders emit it (the engine's decode pivot is UTF-8, see
transcode.decode_to_utf8; codepoints are only the way between
encodings).  Callers guarantee
codepoints are scalar values (≤ U+10FFFF, no surrogates) — decoders
only ever emit scalar values, so encode∘decode is total.
"""

from __future__ import annotations

import numpy as np

_U8 = np.uint8
_I64 = np.int64


def codepoints_to_utf8(cp: np.ndarray, offsets: np.ndarray):
    """Returns (data_u8, byte_offsets_i64)."""
    cp = cp.astype(np.uint32, copy=False)
    if not len(cp) or bool(np.all(cp < 0x80)):  # ASCII fast path
        return cp.astype(_U8), offsets.astype(_I64, copy=False).copy()
    # int32 positions while the output can't exceed 2 GiB (Arrow batches
    # are far smaller): halves the cumsum + index-gather memory traffic
    idx_t = np.int32 if len(cp) * 4 < 2**31 else _I64
    nbytes = np.ones(len(cp), dtype=idx_t)
    nbytes += cp >= 0x80
    nbytes += cp >= 0x800
    nbytes += cp >= 0x10000
    pos = np.zeros(len(cp) + 1, dtype=idx_t)
    np.cumsum(nbytes, out=pos[1:])
    out = np.empty(int(pos[-1]), dtype=_U8)

    p = pos[:-1]
    m1 = nbytes == 1
    out[p[m1]] = cp[m1]
    m2 = nbytes == 2
    c2, p2 = cp[m2], p[m2]
    out[p2] = 0xC0 | (c2 >> 6)
    out[p2 + 1] = 0x80 | (c2 & 0x3F)
    m3 = nbytes == 3
    c3, p3 = cp[m3], p[m3]
    out[p3] = 0xE0 | (c3 >> 12)
    out[p3 + 1] = 0x80 | ((c3 >> 6) & 0x3F)
    out[p3 + 2] = 0x80 | (c3 & 0x3F)
    m4 = nbytes == 4
    c4, p4 = cp[m4], p[m4]
    out[p4] = 0xF0 | (c4 >> 18)
    out[p4 + 1] = 0x80 | ((c4 >> 12) & 0x3F)
    out[p4 + 2] = 0x80 | ((c4 >> 6) & 0x3F)
    out[p4 + 3] = 0x80 | (c4 & 0x3F)

    return out, pos[offsets].astype(_I64)


def codepoints_to_utf16(cp: np.ndarray, offsets: np.ndarray, *, big_endian: bool = False):
    """Returns (data_u8, byte_offsets_i64) — UTF-16 LE or BE, no BOM."""
    cp = cp.astype(np.uint32, copy=False)
    astral = cp >= 0x10000
    idx_t = np.int32 if len(cp) * 2 < 2**31 else _I64
    nunits = np.ones(len(cp), dtype=idx_t) + astral
    upos = np.zeros(len(cp) + 1, dtype=idx_t)
    np.cumsum(nunits, out=upos[1:])
    units = np.empty(int(upos[-1]), dtype=np.uint16)
    p = upos[:-1]
    bmp = ~astral
    units[p[bmp]] = cp[bmp]
    ca, pa_ = cp[astral] - 0x10000, p[astral]
    units[pa_] = 0xD800 + (ca >> 10)
    units[pa_ + 1] = 0xDC00 + (ca & 0x3FF)
    units = units.astype(">u2" if big_endian else "<u2", copy=False)
    data = units.view(_U8).copy()
    return data, upos[offsets].astype(_I64) * 2


def codepoints_to_utf32(cp: np.ndarray, offsets: np.ndarray, *, big_endian: bool = False):
    """Returns (data_u8, byte_offsets_i64) — UTF-32 LE or BE, no BOM."""
    units = cp.astype(">u4" if big_endian else "<u4", copy=False)
    data = units.view(_U8).copy() if units.base is None else np.ascontiguousarray(units).view(_U8).copy()
    return data, offsets.astype(_I64, copy=False) * 4
