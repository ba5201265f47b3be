"""BOM detection, auto-decode, and any→any transcoding
(SURVEY.md §2.1 `transcode`).

UTF-8 is the one decode pivot: `decode_to_utf8` sniffs each row's BOM,
validates UTF-8 rows in place and repairs only the rows that need
U+FFFD, and sends only UTF-16/32 rows through codepoints.
`utf8_repair` is its UTF-8 branch without BOM sniffing (the scalar
UDFs' decode).  `decode_auto` and `transcode(src="auto")` ride on
`decode_to_utf8`; fixed-encoding transcodes go through the
per-encoding codepoint decoders and encoders."""

from __future__ import annotations

import numpy as np

from ultraviolet_spark.kernels import encode as _enc
from ultraviolet_spark.kernels.buffers import copy_rows, gather_rows
from ultraviolet_spark.kernels.utf8 import (
    utf8_decode_replace,
    utf8_row_errors,
    utf8_to_codepoints_trusted,
    utf8_to_codepoints_with_repl,
)
from ultraviolet_spark.kernels.utf16 import utf16_to_codepoints
from ultraviolet_spark.kernels.utf32 import utf32_to_codepoints

_I64 = np.int64

ENCODINGS = ("utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be")

# BOM ids (order matters: UTF-32 LE BOM starts with the UTF-16 LE BOM).
BOM_NONE, BOM_UTF8, BOM_16LE, BOM_16BE, BOM_32LE, BOM_32BE = range(6)
BOM_NAMES = np.array(["none", "utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be"])
_BOM_LEN = np.array([0, 3, 2, 2, 4, 4], dtype=_I64)


def detect_bom(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row BOM id (BOM_* constants). Vectorized prefix compare."""
    n = len(offsets) - 1
    lengths = np.diff(offsets)
    s = offsets[:-1]

    def byte(k):
        # data[s+k] where in range else 0x100 (never matches)
        out = np.full(n, 0x100, dtype=np.int32)
        ok = lengths > k
        out[ok] = data[s[ok] + k]
        return out

    b0, b1, b2, b3 = byte(0), byte(1), byte(2), byte(3)
    out = np.full(n, BOM_NONE, dtype=np.int8)
    out[(b0 == 0xEF) & (b1 == 0xBB) & (b2 == 0xBF)] = BOM_UTF8
    out[(b0 == 0xFF) & (b1 == 0xFE)] = BOM_16LE
    out[(b0 == 0xFE) & (b1 == 0xFF)] = BOM_16BE
    out[(b0 == 0xFF) & (b1 == 0xFE) & (b2 == 0x00) & (b3 == 0x00)] = BOM_32LE
    out[(b0 == 0x00) & (b1 == 0x00) & (b2 == 0xFE) & (b3 == 0xFF)] = BOM_32BE
    return out


def _decode_fixed(data, offsets, encoding: str):
    """(cp, cp_offsets, n_repl) for one known encoding; BOM is content."""
    if encoding == "utf-8":
        return utf8_to_codepoints_with_repl(data, offsets)
    if encoding == "utf-16le":
        return utf16_to_codepoints(data, offsets, big_endian=False)
    if encoding == "utf-16be":
        return utf16_to_codepoints(data, offsets, big_endian=True)
    if encoding == "utf-32le":
        return utf32_to_codepoints(data, offsets, big_endian=False)
    if encoding == "utf-32be":
        return utf32_to_codepoints(data, offsets, big_endian=True)
    raise ValueError(f"unsupported encoding {encoding!r} (one of {ENCODINGS})")


_WIDE_BOMS = ((BOM_16LE, "utf-16le"), (BOM_16BE, "utf-16be"),
              (BOM_32LE, "utf-32le"), (BOM_32BE, "utf-32be"))


def _utf8_parts(data: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """UTF-8 rows data[starts[j]:+lens[j]], validated once.  Returns
    (n_repl, error_offset, parts) with parts in ``_stitch`` form: clean
    rows are views of ``data``, and only rows that need U+FFFD go
    through the repair splice."""
    buf, buf_starts = gather_rows(data, starts, lens, sentinel=True)
    n_repl, err_off = utf8_row_errors(buf, buf_starts)
    del buf
    clean, bad = np.flatnonzero(n_repl == 0), np.flatnonzero(n_repl)
    parts = [(clean, data, starts[clean], lens[clean])]
    if len(bad):
        rep, rep_off, _ = utf8_decode_replace(
            *gather_rows(data, starts[bad], lens[bad]))
        parts.append((bad, rep, rep_off[:-1], np.diff(rep_off)))
    return n_repl, err_off, parts


def _stitch(n: int, parts):
    """One output buffer from (rows, source buffer, row starts in it,
    row lengths) parts that together cover rows 0..n-1."""
    out_off = np.zeros(n + 1, dtype=_I64)
    out_lens = out_off[1:]
    for rows, _, _, row_lens in parts:
        out_lens[rows] = row_lens
    np.cumsum(out_lens, out=out_lens)
    out = np.empty(int(out_off[-1]), dtype=np.uint8)
    for rows, src, src_starts, row_lens in parts:
        copy_rows(out, out_off[rows], src, src_starts, row_lens)
    return out, out_off


def utf8_repair(data: np.ndarray, offsets: np.ndarray):
    """UTF-8 → well-formed UTF-8 with U+FFFD replacement, validated
    once.  No BOM sniffing: a leading U+FEFF is content.  Returns
    (u8, u8_offsets, n_repl, error_offset); error_offset is the row
    offset of the first ill-formed byte, -1 when valid.  A clean batch
    comes back as the input buffer itself (no copy), so callers must not
    write into the result."""
    n = len(offsets) - 1
    total = int(offsets[-1])
    if not total or int(data[:total].max()) < 0x80:   # all-ASCII batch
        return data[:total], offsets, np.zeros(n, dtype=_I64), np.full(n, -1, dtype=_I64)
    n_repl, err_off, parts = _utf8_parts(data, offsets[:-1], np.diff(offsets))
    if not n_repl.any():
        return data[:total], offsets, n_repl, err_off
    return (*_stitch(n, parts), n_repl, err_off)


def decode_to_utf8(data: np.ndarray, offsets: np.ndarray):
    """BOM-sniffing decode to UTF-8 with U+FFFD replacement — the
    engine's one decode.  The per-row BOM picks the encoding and is
    stripped; rows without a BOM are UTF-8.  Returns
    (u8, u8_offsets, n_repl, bom_id_per_row).

    UTF-8 rows go through ``utf8_repair``'s validation and splice.
    UTF-16/32 rows decode to codepoints and re-encode, as a subset.  A
    batch with no BOM and no error comes back as the input buffer
    itself (no copy), so callers must not write into the result."""
    bom = detect_bom(data, offsets)
    if not bom.any():
        u8, u8o, n_repl, _ = utf8_repair(data, offsets)
        return u8, u8o, n_repl, bom

    n = len(offsets) - 1
    n_repl = np.zeros(n, dtype=_I64)
    starts = offsets[:-1] + _BOM_LEN[bom]
    lens = offsets[1:] - starts
    parts = []
    rows = np.flatnonzero(bom <= BOM_UTF8)
    if len(rows):
        n_repl[rows], _, sub = _utf8_parts(data, starts[rows], lens[rows])
        parts += [(rows[r], *rest) for r, *rest in sub]
    for bid, enc in _WIDE_BOMS:
        rows = np.flatnonzero(bom == bid)
        if not len(rows):
            continue
        cp, cpo, n_repl[rows] = _decode_fixed(
            *gather_rows(data, starts[rows], lens[rows]), enc)
        u8, u8o = _enc.codepoints_to_utf8(cp, cpo)
        parts.append((rows, u8, u8o[:-1], np.diff(u8o)))
    return (*_stitch(n, parts), n_repl, bom)


def decode_auto(data: np.ndarray, offsets: np.ndarray):
    """``decode_to_utf8`` as codepoints: (cp, cp_offsets, n_repl,
    bom_id_per_row).  The UTF-8 it decodes is well-formed by
    construction, so the codepoints come from the trusted decoder."""
    u8, u8o, n_repl, bom = decode_to_utf8(data, offsets)
    cp, cpo = utf8_to_codepoints_trusted(u8, u8o)
    return cp, cpo, n_repl, bom


def transcode(data: np.ndarray, offsets: np.ndarray, src: str, dst: str):
    """any→any among ENCODINGS (``src`` may also be "auto": BOM-sniffing,
    see ``decode_to_utf8``).  Returns (out_data, out_offsets, n_repl)."""
    if src == "auto":
        if dst == "utf-8":
            out, oo, n_repl, _ = decode_to_utf8(data, offsets)
            return out, oo, n_repl
        cp, cpo, n_repl, _ = decode_auto(data, offsets)
    else:
        cp, cpo, n_repl = _decode_fixed(data, offsets, src)
    if dst == "utf-8":
        out, oo = _enc.codepoints_to_utf8(cp, cpo)
    elif dst == "utf-16le":
        out, oo = _enc.codepoints_to_utf16(cp, cpo, big_endian=False)
    elif dst == "utf-16be":
        out, oo = _enc.codepoints_to_utf16(cp, cpo, big_endian=True)
    elif dst == "utf-32le":
        out, oo = _enc.codepoints_to_utf32(cp, cpo, big_endian=False)
    elif dst == "utf-32be":
        out, oo = _enc.codepoints_to_utf32(cp, cpo, big_endian=True)
    else:
        raise ValueError(f"unsupported encoding {dst!r}")
    return out, oo, n_repl
