"""Vectorized UTF-32 → codepoints with U+FFFD replacement.

Mirrors CPython ``bytes.decode('utf-32-le'|'utf-32-be', 'replace')``:
units > U+10FFFF or in the surrogate range become one U+FFFD; a
trailing partial unit (1–3 bytes) becomes one U+FFFD.  BOM is content
(U+FEFF) here; auto-detection lives in transcode.decode_to_utf8.
"""

from __future__ import annotations

import numpy as np

_I64 = np.int64


def utf32_to_codepoints(data: np.ndarray, offsets: np.ndarray, *, big_endian: bool = False):
    """Returns (cp_u32, cp_offsets_i64, n_repl_i64_per_row)."""
    n = len(offsets) - 1
    if n == 0:
        z = np.zeros(0, dtype=_I64)
        return np.empty(0, dtype=np.uint32), np.zeros(1, dtype=_I64), z
    lengths = np.diff(offsets)
    nunits = lengths // 4
    trailing = (lengths & 3) > 0

    # All-valid fast path (mirrors utf16.py): every row a whole number
    # of units and every unit a scalar value → units map 1:1 to
    # codepoints with no sentinel buffer and no replacement machinery.
    if (not trailing.any() and int(offsets[0]) == 0
            and data.flags.c_contiguous and data.size >= int(offsets[-1])):
        v32 = data[:int(offsets[-1])].view(">u4" if big_endian else "<u4")
        if not ((v32 > 0x10FFFF) | ((v32 & 0xFFFFF800) == 0xD800)).any():
            cp = v32.astype(np.uint32)
            out_offsets = (offsets >> 2).astype(_I64, copy=False)
            return cp, out_offsets, np.zeros(n, dtype=_I64)

    unit_starts = np.zeros(n + 1, dtype=_I64)
    np.cumsum(nunits + 1, out=unit_starts[1:])          # +1 sentinel unit/row
    total_units = int(unit_starts[-1])
    buf = np.zeros(total_units * 4, dtype=np.uint8)
    total_bytes = int(offsets[-1])
    if int(nunits.sum()):
        if total_bytes // n >= 256:
            # KB-sized rows: bounded per-row memcpy (see utf16.py note)
            for i in range(n):
                nb = int(nunits[i]) * 4
                d0 = int(unit_starts[i]) * 4
                s0 = int(offsets[i])
                buf[d0:d0 + nb] = data[s0:s0 + nb]
        else:
            # one-repeat gather indices (see utf16.py for the derivation)
            cum_prev = np.cumsum(nunits) - nunits
            unit_idx4 = np.arange(int(nunits.sum()), dtype=_I64) * 4
            src = unit_idx4 + np.repeat(offsets[:-1] - 4 * cum_prev, nunits)
            dst = unit_idx4 + 4 * np.repeat(np.arange(n, dtype=_I64), nunits)
            for k in range(4):
                buf[dst + k] = data[src + k]
    u = buf.view(">u4" if big_endian else "<u4").astype(np.uint32)

    sentinel = np.zeros(len(u), dtype=bool)
    sentinel[unit_starts[1:] - 1] = True
    invalid = ((u > 0x10FFFF) | ((u >= 0xD800) & (u < 0xE000))) & ~sentinel

    fffd_tail = np.zeros(len(u), dtype=bool)
    fffd_tail[unit_starts[1:] - 1] = trailing

    cp = u  # u is an owned astype result; all reads of u's
    # original values (masks, u1/pair math) happen before any
    # cp mutation, so aliasing saves a full-width copy
    cp[invalid] = 0xFFFD
    cp[fffd_tail] = 0xFFFD

    emit = ~sentinel | fffd_tail
    # boundary-only offsets via per-row reduceat sums (see utf16.py note)
    out_offsets = np.zeros(len(unit_starts), dtype=_I64)
    np.cumsum(np.add.reduceat(emit, unit_starts[:-1], dtype=_I64),
              out=out_offsets[1:])

    repl = invalid | fffd_tail
    n_repl = np.add.reduceat(repl, unit_starts[:-1], dtype=_I64)
    return cp[emit], out_offsets, n_repl
