"""Vectorized UTF-16 → codepoints with U+FFFD replacement.

Mirrors CPython ``bytes.decode('utf-16-le'|'utf-16-be', 'replace')``:
well-formed surrogate pairs combine; lone surrogates and an odd
trailing byte each become one U+FFFD.  A BOM is NOT stripped here
(U+FEFF decodes as content, exactly like the endian-explicit CPython
codecs); BOM handling lives in transcode.decode_to_utf8.
"""

from __future__ import annotations

import numpy as np

_I64 = np.int64


def utf16_to_codepoints(data: np.ndarray, offsets: np.ndarray, *, big_endian: bool = False):
    """Returns (cp_u32, cp_offsets_i64, n_repl_i64_per_row)."""
    n = len(offsets) - 1
    if n == 0:
        z = np.zeros(0, dtype=_I64)
        return np.empty(0, dtype=np.uint32), np.zeros(1, dtype=_I64), z
    lengths = np.diff(offsets)
    nunits = lengths // 2
    trailing = (lengths & 1).astype(bool)

    # BMP fast path (the dominant web case): every row even-length and
    # no surrogate unit anywhere → the concatenated buffer IS a valid
    # u16 array whose units map 1:1 to codepoints.  One masked compare
    # + one widening astype replaces the whole sentinel/pair machinery
    # (measured 20× on a 2000×10 KB ASCII-heavy batch).
    if (not trailing.any() and int(offsets[0]) == 0
            and data.flags.c_contiguous and data.size >= int(offsets[-1])):
        v16 = data[:int(offsets[-1])].view(">u2" if big_endian else "<u2")
        if not ((v16 & 0xF800) == 0xD800).any():
            cp = v16.astype(np.uint32)
            out_offsets = (offsets >> 1).astype(_I64, copy=False)
            return cp, out_offsets, np.zeros(n, dtype=_I64)

    # Build a unit buffer with one 0x0000 sentinel unit between rows so
    # pairs can't span rows.  Gather bytes row-by-row via index math.
    unit_starts = np.zeros(n + 1, dtype=_I64)
    np.cumsum(nunits + 1, out=unit_starts[1:])           # +1 sentinel unit/row
    total_units = int(unit_starts[-1])
    buf = np.zeros(total_units * 2, dtype=np.uint8)
    total_bytes = int(offsets[-1])
    if total_bytes:
        if total_bytes // n >= 256:
            # KB-sized rows: n bounded slice-memcpys beat four full
            # index arrays (same trick as buffers.copy_rows)
            for i in range(n):
                nb = int(nunits[i]) * 2
                d0 = int(unit_starts[i]) * 2
                s0 = int(offsets[i])
                buf[d0:d0 + nb] = data[s0:s0 + nb]
        else:
            # src/dst for every unit's first byte via ONE repeat each:
            # src = 2·unit_idx + (row byte start − 2·units before row),
            # dst = 2·unit_idx + 2·row_number (each row adds a sentinel)
            cum_prev = np.cumsum(nunits) - nunits
            unit_idx2 = np.arange(int(nunits.sum()), dtype=_I64) * 2
            src = unit_idx2 + np.repeat(offsets[:-1] - 2 * cum_prev, nunits)
            dst = unit_idx2 + 2 * np.repeat(np.arange(n, dtype=_I64), nunits)
            buf[dst] = data[src]
            buf[dst + 1] = data[src + 1]
    # surrogate masks on the native u16 view (half the compare traffic);
    # ONE widening conversion afterwards for the codepoint math
    v16 = buf.view(">u2" if big_endian else "<u2")
    hi = (v16 >= 0xD800) & (v16 < 0xDC00)
    lo = (v16 >= 0xDC00) & (v16 < 0xE000)
    u = v16.astype(np.uint32)
    lo1 = np.zeros(len(u), dtype=bool)
    if len(u) > 1:
        lo1[:-1] = lo[1:]
    pair = hi & lo1
    covered = np.zeros(len(u), dtype=bool)
    if len(u) > 1:
        covered[1:] = pair[:-1]
    lone = (hi & ~pair) | (lo & ~covered)

    sentinel = np.zeros(len(u), dtype=bool)
    sentinel[unit_starts[1:] - 1] = True
    # Rows with an odd trailing byte emit one U+FFFD at the row end —
    # reuse the sentinel slot as the emitter.  CPython nuance (verified):
    # a lone HIGH surrogate as the row's last unit absorbs the trailing
    # byte into its own single U+FFFD ("unexpected end of data"), so no
    # extra tail replacement there; a lone low surrogate does not.
    tail_emit = trailing.copy()
    has_units = nunits > 0
    last_unit = unit_starts[1:] - 2                       # slot before sentinel
    hi_last = np.zeros(n, dtype=bool)
    hi_last[has_units] = hi[last_unit[has_units]] & ~pair[last_unit[has_units]]
    tail_emit &= ~hi_last
    fffd_tail = sentinel.copy()
    fffd_tail[unit_starts[1:] - 1] = tail_emit

    cp = u  # u is an owned astype result; all reads of u's
    # original values (masks, u1/pair math) happen before any
    # cp mutation, so aliasing saves a full-width copy
    u1 = np.zeros(len(u), dtype=np.uint32)
    if len(u) > 1:
        u1[:-1] = u[1:]
    cp[pair] = 0x10000 + ((u[pair] - 0xD800) << 10) + (u1[pair] - 0xDC00)
    cp[lone] = 0xFFFD
    cp[fffd_tail] = 0xFFFD

    emit = (~sentinel & ~covered) | fffd_tail
    # boundary-only offsets via per-row reduceat sums (full-array
    # bool→int64 cumsum is the slowest op in these kernels, r2 measured)
    out_offsets = np.zeros(len(unit_starts), dtype=_I64)
    np.cumsum(np.add.reduceat(emit, unit_starts[:-1], dtype=_I64),
              out=out_offsets[1:])

    repl = (lone & ~sentinel) | fffd_tail
    n_repl = np.add.reduceat(repl, unit_starts[:-1], dtype=_I64)
    return cp[emit], out_offsets, n_repl
