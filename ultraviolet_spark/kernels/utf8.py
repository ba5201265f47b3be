"""Vectorized UTF-8 validate / decode-with-replace / to-codepoints.

Semantics: Unicode Standard §3.9 Table 3-7 well-formedness + U+FFFD
substitution of *maximal subparts* (the W3C/WHATWG policy implemented
by CPython ``bytes.decode('utf-8', errors='replace')``), byte-verified
against CPython in SURVEY.md §2.1.  The reference's own policy is
[REF-UNAVAILABLE] (empty mount, SURVEY.md §0); the policy lives
entirely in `_analyze` / `_bad_spans` so a divergence found later is a
localized swap (SURVEY.md §2.1 risk note).

Algorithm: instead of a sequential Höhrmann DFA (state-carrying, not
vectorizable), we exploit UTF-8's self-synchronization: continuation
bytes (0x80..0xBF) can never be sequence *leads*, so "is position i the
start of a well-formed sequence" is decidable from a fixed 4-byte
window, and coverage masks are plain shifted ORs — the whole batch is
analyzed in ~30 numpy array ops regardless of row count.  Rows are
separated by a single 0x00 sentinel so no sequence or error span can
leak across row boundaries.
"""

from __future__ import annotations

import numpy as np

from ultraviolet_spark.kernels.buffers import gather_rows

_U8 = np.uint8
_I64 = np.int64

_FFFD_UTF8 = (0xEF, 0xBF, 0xBD)


def _shift_fwd(a: np.ndarray, k: int, fill=False) -> np.ndarray:
    """out[i] = a[i+k] (look ahead k bytes)."""
    out = np.full(a.shape, fill, dtype=a.dtype)
    if k < len(a):
        out[: len(a) - k] = a[k:]
    return out


def _shift_back(a: np.ndarray, k: int, fill=False) -> np.ndarray:
    """out[i] = a[i-k]."""
    out = np.full(a.shape, fill, dtype=a.dtype)
    if k < len(a):
        out[k:] = a[: len(a) - k]
    return out


def _analyze(b: np.ndarray):
    """Dispatch: web text is overwhelmingly ASCII, and every byte the
    multi-byte/error machinery can touch is ≥ 0x80 — so when the
    non-ASCII fraction is small, run the full classifier on just the
    gathered ≥0x80 subsequence (physical adjacency tracked explicitly)
    and scatter the sparse results into full-size masks.  Identical
    output to the dense path (property-tested); ~an order of magnitude
    less memory traffic on 95%-ASCII batches."""
    hi = b >= 0x80
    n_hi = int(np.count_nonzero(hi))
    # measured crossover ≈40% non-ASCII (r2: 33% hi → sparse 67 vs dense
    # 53 MB/s; 50% → dense wins; CJK 97% → dense 2× sparse)
    if n_hi and n_hi * 5 < len(b) * 2:
        return _analyze_sparse(b, hi)
    return _analyze_dense(b, ascii_=~hi)


def _analyze_sparse(b: np.ndarray, hi: np.ndarray):
    idx = np.flatnonzero(hi)
    s = b[idx]
    m = len(s)
    # adjacency: subarray positions j, j+1 are physically consecutive
    adj = np.zeros(m, dtype=bool)
    if m > 1:
        adj[:-1] = idx[1:] == idx[:-1] + 1

    cont = (s & 0xC0) == 0x80
    c1 = adj & _shift_fwd(cont, 1)
    c2 = c1 & _shift_fwd(adj, 1) & _shift_fwd(cont, 2)
    c3 = c2 & _shift_fwd(adj, 2) & _shift_fwd(cont, 3)
    b1 = np.where(adj, _shift_fwd(s, 1, fill=0), 0)

    v2 = (s >= 0xC2) & (s <= 0xDF) & c1
    ok3_1 = (
        ((s == 0xE0) & (b1 >= 0xA0) & (b1 <= 0xBF))
        | ((s >= 0xE1) & (s <= 0xEC) & c1)
        | ((s == 0xED) & (b1 >= 0x80) & (b1 <= 0x9F))
        | ((s >= 0xEE) & (s <= 0xEF) & c1)
    )
    v3 = ok3_1 & c2
    ok4_1 = (
        ((s == 0xF0) & (b1 >= 0x90) & (b1 <= 0xBF))
        | ((s >= 0xF1) & (s <= 0xF3) & c1)
        | ((s == 0xF4) & (b1 >= 0x80) & (b1 <= 0x8F))
    )
    v4 = ok4_1 & c2 & c3

    # a well-formed start's continuations are ≥0x80 AND physically
    # adjacent (implied by c1/c2/c3), so subarray shift_back is exact
    covered = (
        _shift_back(v2, 1)
        | _shift_back(v3, 1) | _shift_back(v3, 2)
        | _shift_back(v4, 1) | _shift_back(v4, 2) | _shift_back(v4, 3)
    )
    start = v2 | v3 | v4  # ascii impossible on the ≥0x80 subarray
    bad = ~start & ~covered

    span_s = np.ones(m, dtype=np.int8)
    if bad.any():
        span_s[bad & ok3_1] = 2
        span_s[bad & ok4_1 & ~c2] = 2
        span_s[bad & ok4_1 & c2] = 3
    # ok3_1/ok4_1 require in-range (hence adjacent, ≥0x80) continuations,
    # so bad-span cover positions are also contiguous in the subarray
    bad_cover = (_shift_back(bad & (span_s >= 2), 1)
                 | _shift_back(bad & (span_s == 3), 2))
    fffd = bad & ~bad_cover

    def scatter(mask_s: np.ndarray) -> np.ndarray:
        out = np.zeros(len(b), dtype=bool)
        out[idx[mask_s]] = True
        return out

    span = np.ones(len(b), dtype=np.int8)
    span[idx] = span_s
    start_full = ~hi                    # ascii positions all start
    start_full[idx[start]] = True       # + well-formed multi-byte leads
    return {
        "ascii": ~hi, "v2": scatter(v2), "v3": scatter(v3),
        "v4": scatter(v4), "covered": scatter(covered),
        "bad": scatter(bad), "span": span, "fffd": scatter(fffd),
        "start": start_full,
    }


# LUT classification for the dense path (round-3: the per-byte range
# compares were ~45 boolean passes; two 256-entry gathers replace all of
# the Table 3-7 second-byte range logic).
#   _CCLS[byte] — continuation-CLASS bits of the byte itself:
#     bit0: 0x80-0xBF (generic continuation)   bit1: 0xA0-0xBF (after E0)
#     bit2: 0x80-0x9F (after ED)               bit3: 0x90-0xBF (after F0)
#     bit4: 0x80-0x8F (after F4)
#   _NEED[byte] — for a lead: the _CCLS bit its FIRST continuation must
#     have (0 for non-leads); _LEN[byte] — sequence length (0 non-lead).
_CCLS = np.zeros(256, dtype=np.uint8)
_NEED = np.zeros(256, dtype=np.uint8)
_LEN = np.zeros(256, dtype=np.uint8)
for _x in range(0x80, 0xC0):
    _CCLS[_x] = (1
                 | (2 if 0xA0 <= _x <= 0xBF else 0)
                 | (4 if _x <= 0x9F else 0)
                 | (8 if _x >= 0x90 else 0)
                 | (16 if _x <= 0x8F else 0))
for _x in range(0xC2, 0xE0):
    _NEED[_x], _LEN[_x] = 1, 2
_NEED[0xE0], _LEN[0xE0] = 2, 3
for _x in range(0xE1, 0xED):
    _NEED[_x], _LEN[_x] = 1, 3
_NEED[0xED], _LEN[0xED] = 4, 3
for _x in range(0xEE, 0xF0):
    _NEED[_x], _LEN[_x] = 1, 3
_NEED[0xF0], _LEN[0xF0] = 8, 4
for _x in range(0xF1, 0xF4):
    _NEED[_x], _LEN[_x] = 1, 4
_NEED[0xF4], _LEN[0xF4] = 16, 4
del _x


# ~256 KB chunks keep every intermediate mask L2-resident across the
# ~25 classification passes — measured 2.6× over full-buffer passes on
# a 2 MB CJK batch (27.6 → 10.7 ms).  Every output mask at position p
# is a function of bytes p-3..p+3 only, so a 4-byte halo per chunk
# reproduces the full-buffer result exactly (chunk-equivalence is
# property-tested).  Module-level so tests can shrink it to force many
# boundaries.
_DENSE_CHUNK = 1 << 18


def _analyze_dense(b: np.ndarray, ascii_: np.ndarray | None = None):
    if len(b) > _DENSE_CHUNK + (_DENSE_CHUNK >> 1):
        return _analyze_dense_chunked(b, ascii_)
    return _analyze_dense_one(b, ascii_)


def _chunks(n: int, analyze):
    """Yield (i0, i1, masks of [i0, i1)) over ``_DENSE_CHUNK`` chunks of
    an n-byte buffer; ``analyze(lo, hi)`` classifies [lo, hi), which
    carries the 4-byte halo."""
    halo = 4
    for i0 in range(0, n, _DENSE_CHUNK):
        i1 = min(i0 + _DENSE_CHUNK, n)
        lo = max(0, i0 - halo)
        sub = analyze(lo, min(n, i1 + halo))
        a = i0 - lo
        yield i0, i1, {k: v[a:a + (i1 - i0)] for k, v in sub.items()}


def _analyze_dense_chunked(b: np.ndarray, ascii_: np.ndarray | None):
    n = len(b)
    keys = ("ascii", "v2", "v3", "v4", "covered", "bad", "start", "fffd")
    out = {k: np.empty(n, dtype=bool) for k in keys}
    out["span"] = np.empty(n, dtype=np.int8)

    def analyze(lo, hi):
        return _analyze_dense_one(
            b[lo:hi], None if ascii_ is None else ascii_[lo:hi])

    for i0, i1, sub in _chunks(n, analyze):
        for k, dst in out.items():
            dst[i0:i1] = sub[k]
    return out


def _analyze_dense_one(b: np.ndarray, ascii_: np.ndarray | None = None):
    """Classify every byte of a (sentinel-padded) buffer.

    Returns dict of masks:
      ascii_   — single-byte sequence (0x00..0x7F)
      v2/v3/v4 — position starts a well-formed 2/3/4-byte sequence
      covered  — position is a continuation consumed by a well-formed seq
      bad      — position is neither a well-formed start nor covered
      span     — for bad positions: length of the maximal subpart
                 (1..3) replaced by ONE U+FFFD
      fffd     — bad positions that emit a U+FFFD (start of a bad span)
    """
    # one intp cast shared by all three LUT gathers: numpy converts a
    # non-intp fancy index per call (~3× the gather cost, measured)
    bi = b.astype(np.intp)
    ccls = _CCLS[bi]
    need = _NEED[bi]
    ln = _LEN[bi]
    cont = ccls != 0
    c2 = _shift_fwd(cont, 2)
    c3 = _shift_fwd(cont, 3)

    if ascii_ is None:
        ascii_ = b < 0x80
    # the first continuation's class bits, range-checked against the
    # lead's requirement in ONE and+compare (Table 3-7 collapsed)
    firstok = (_shift_fwd(ccls, 1) & need) != 0
    v2 = firstok & (ln == 2)
    ok3_1 = firstok & (ln == 3)
    v3 = ok3_1 & c2
    ok4_1 = firstok & (ln == 4)
    v4 = ok4_1 & c2 & c3

    v34 = v3 | v4
    vall = v2 | v34
    covered = (_shift_back(vall, 1) | _shift_back(v34, 2)
               | _shift_back(v4, 3))
    start = ascii_ | vall
    bad = ~start & ~covered

    # Maximal-subpart span length at bad positions: a truncated-but-so-
    # far-valid lead consumes its valid continuation prefix.
    span = np.ones(len(b), dtype=np.int8)
    if bad.any():
        span[bad & ok3_1] = 2            # E_ + one in-range cont, then broken
        span[bad & ok4_1 & ~c2] = 2      # F_ + one in-range cont
        span[bad & ok4_1 & c2] = 3       # F_ + two conts, broken/truncated at 4th
        # Positions consumed by a bad span do not emit their own U+FFFD.
        bad_cover = (_shift_back(bad & (span >= 2), 1)
                     | _shift_back(bad & (span == 3), 2))
        fffd = bad & ~bad_cover
    else:
        fffd = bad                       # all-False, skip 5 shift/or passes
    return {
        "ascii": ascii_, "v2": v2, "v3": v3, "v4": v4,
        "covered": covered, "bad": bad, "span": span, "fffd": fffd,
        "start": start,
    }


def _per_row_counts(mask: np.ndarray, row_starts: np.ndarray) -> np.ndarray:
    """Count True per row given padded row-start offsets (n+1 entries).
    Segment sums via reduceat — a full-array bool→int64 cumsum is the
    single slowest numpy op in the decode chain (measured r2)."""
    if len(row_starts) <= 1:
        return np.zeros(0, dtype=_I64)
    if not mask.any():  # clean batch (the common case for fffd counts)
        return np.zeros(len(row_starts) - 1, dtype=_I64)
    return np.add.reduceat(mask, row_starts[:-1], dtype=_I64)


def utf8_row_errors(b: np.ndarray, row_starts: np.ndarray):
    """The engine's one UTF-8 validation, on a sentinel-padded buffer
    (``gather_rows(…, sentinel=True)`` layout).  Returns (n_repl: i64[n],
    error_offset: i64[n]): the U+FFFD count per row and the row offset
    of its first ill-formed byte (-1 when valid).  The buffer is
    classified one ``_DENSE_CHUNK`` at a time (sparse or dense, as
    ``_analyze`` picks per chunk) and only U+FFFD positions are kept, so
    the temporaries stay chunk-sized whatever the batch size.  A row's
    first ill-formed byte always starts a U+FFFD span, so its offset is
    the row's first U+FFFD position."""
    n = len(row_starts) - 1
    if not len(b) or int(b.max()) < 0x80:
        return np.zeros(n, dtype=_I64), np.full(n, -1, dtype=_I64)
    pos = np.concatenate(
        [np.flatnonzero(m["fffd"]) + i0
         for i0, _, m in _chunks(len(b), lambda lo, hi: _analyze(b[lo:hi]))])
    first = np.searchsorted(pos, row_starts)
    n_repl = np.diff(first).astype(_I64)
    err_off = np.full(n, -1, dtype=_I64)
    bad = np.flatnonzero(n_repl)
    err_off[bad] = pos[first[bad]] - row_starts[bad]
    return n_repl, err_off


def _padded(data: np.ndarray, offsets: np.ndarray):
    """(buffer, row_starts) with a 0x00 sentinel after every row, so no
    sequence or error span leaks across a row boundary."""
    return gather_rows(data, offsets[:-1], np.diff(offsets), sentinel=True)


def utf8_validate(data: np.ndarray, offsets: np.ndarray):
    """Strict validation. Returns (valid: bool[n], error_offset: i64[n],
    n_errors: i64[n]); error_offset = -1 when valid (byte offset of the
    first ill-formed byte otherwise)."""
    n = len(offsets) - 1
    total = int(offsets[-1])
    if not total or int(data[:total].max()) < 0x80:  # all-ASCII: no copy
        return np.ones(n, dtype=bool), np.full(n, -1, dtype=_I64), np.zeros(n, dtype=_I64)
    n_err, err_off = utf8_row_errors(*_padded(data, offsets))
    return n_err == 0, err_off, n_err


def utf8_decode_replace(data: np.ndarray, offsets: np.ndarray):
    """UTF-8 → UTF-8 with ill-formed maximal subparts replaced by U+FFFD.

    Well-formed spans are splice-copied (no codepoint round-trip).  Meant
    for rows already known to need U+FFFD (``transcode.utf8_repair``
    sends only those), so there is no clean-batch fast path.  Returns
    (out_data, out_offsets, n_repl: i64[n]).
    """
    b, row_starts = _padded(data, offsets)
    m = _analyze(b)
    sentinel = np.zeros(len(b), dtype=bool)
    sentinel[row_starts[1:] - 1] = True

    keep = (m["start"] | m["covered"]) & ~sentinel
    fffd = m["fffd"]

    idx_t = np.int32 if len(b) * 3 < 2**31 else _I64
    out_len = np.zeros(len(b) + 1, dtype=idx_t)
    out_len[1:][keep] = 1
    out_len[1:][fffd] = 3
    pos = np.cumsum(out_len, dtype=idx_t)  # output offset before byte i
    out = np.empty(int(pos[-1]), dtype=_U8)
    out[pos[:-1][keep]] = b[keep]
    f = pos[:-1][fffd]
    out[f] = _FFFD_UTF8[0]
    out[f + 1] = _FFFD_UTF8[1]
    out[f + 2] = _FFFD_UTF8[2]

    out_offsets = pos[row_starts].astype(_I64)
    n_repl = _per_row_counts(fffd, row_starts)
    return out, out_offsets, n_repl


def _codepoints_core(b8: np.ndarray, row_starts: np.ndarray, m: dict):
    """Shared emission: (padded bytes, masks) → (cp u32, cp_offsets).
    Continuation bytes are fetched with sparse gathers at the (usually
    rare) multi-byte lead positions instead of full shifted copies."""
    sentinel = np.zeros(len(b8), dtype=bool)
    sentinel[row_starts[1:] - 1] = True

    # bulk byte→u32 conversion: ASCII positions (the vast majority) are
    # already correct, multi-byte leads and U+FFFD get sparse overwrites;
    # covered/sentinel positions hold garbage but are never emitted.
    # (round 1's cp[a] = b8[a] paid two dense masked passes instead.)
    cp = b8.astype(np.uint32)
    # gather the continuation bytes from the u32 copy (no per-gather
    # astype temporaries; u8 gathers + int32 casts measured ~25% slower)
    i2 = np.flatnonzero(m["v2"])
    if len(i2):
        cp[i2] = ((cp[i2] & 0x1F) << 6) | (cp[i2 + 1] & 0x3F)
    i3 = np.flatnonzero(m["v3"])
    if len(i3):
        cp[i3] = (((cp[i3] & 0x0F) << 12)
                  | ((cp[i3 + 1] & 0x3F) << 6)
                  | (cp[i3 + 2] & 0x3F))
    i4 = np.flatnonzero(m["v4"])
    if len(i4):
        cp[i4] = (((cp[i4] & 0x07) << 18)
                  | ((cp[i4 + 1] & 0x3F) << 12)
                  | ((cp[i4 + 2] & 0x3F) << 6)
                  | (cp[i4 + 3] & 0x3F))
    if m["fffd"].any():
        cp[m["fffd"]] = 0xFFFD
        emit = (m["start"] | m["fffd"]) & ~sentinel
    else:
        emit = m["start"] & ~sentinel
    # offsets only matter at the n+1 row boundaries: per-row reduceat
    # sums + a tiny cumsum instead of a full-array bool→int64 cumsum
    out_off = np.zeros(len(row_starts), dtype=_I64)
    np.cumsum(np.add.reduceat(emit, row_starts[:-1], dtype=_I64),
              out=out_off[1:])
    # index-gather extraction: ~2× faster than boolean-mask extraction
    # at this density (numpy bool fancy-indexing is not vectorized)
    return cp[np.flatnonzero(emit)], out_off


def utf8_to_codepoints_trusted(data: np.ndarray, offsets: np.ndarray):
    """Well-formed UTF-8 → (cp u32, cp_offsets i64[n+1]), no validation.

    Only for bytes that are well-formed by construction: the output of
    ``transcode.decode_to_utf8`` and text extracted from it (extraction
    removes whole ``<``…``>`` spans and emits only scalar values).  Leads
    are the bytes outside 0x80..0xBF; codepoints are assembled at the
    non-ASCII leads only.  Ill-formed input is not detected: it decodes
    to wrong codepoints, or fails on a lead truncated at the buffer end.
    """
    total = int(offsets[-1])
    b = data[:total]
    if not total or int(b.max()) < 0x80:
        return b.astype(np.uint32), offsets.astype(_I64)
    cp = b.astype(np.uint32)
    multi = np.flatnonzero(b >= 0xC0)
    lead = cp[multi]
    for lo, hi, mask, n_cont in ((0xC0, 0xE0, 0x1F, 1), (0xE0, 0xF0, 0x0F, 2),
                                 (0xF0, 0x100, 0x07, 3)):
        p = multi[(lead >= lo) & (lead < hi)]
        if not len(p):
            continue
        v = cp[p] & mask
        for k in range(1, n_cont + 1):
            v = (v << 6) | (cp[p + k] & 0x3F)
        cp[p] = v                      # leads only: continuations stay intact
    # continuation bytes are exactly the int8 values below -64
    leads = np.flatnonzero(b.view(np.int8) >= -64)
    return cp[leads], np.searchsorted(leads, offsets).astype(_I64)


def utf8_to_codepoints(data: np.ndarray, offsets: np.ndarray):
    """UTF-8 → codepoint arrays (ill-formed → U+FFFD per maximal subpart).

    Returns (cp: u32 flat array, cp_offsets: i64[n+1]).
    """
    cp, cpo, _ = utf8_to_codepoints_with_repl(data, offsets)
    return cp, cpo


def utf8_to_codepoints_with_repl(data: np.ndarray, offsets: np.ndarray):
    """Fused decode + replacement count: ONE pad + ONE analysis pass
    (decode_auto previously paid both twice).  Returns
    (cp u32, cp_offsets i64[n+1], n_repl i64[n])."""
    n = len(offsets) - 1
    total = int(offsets[-1])
    zeros = np.zeros(n, dtype=_I64)
    if total == 0:
        return np.empty(0, dtype=np.uint32), offsets.copy(), zeros
    if bool(np.all(data[:total] < 0x80)):  # ASCII fast path
        return data[:total].astype(np.uint32), offsets.copy(), zeros
    b8, row_starts = _padded(data, offsets)
    m = _analyze(b8)
    cp, cpo = _codepoints_core(b8, row_starts, m)
    return cp, cpo, _per_row_counts(m["fffd"], row_starts)
