"""Vectorized HTML → text extraction (FIXTURES.md §3 spec, frozen v1).

Spec (deterministic so "byte-identical extracted text per url",
BASELINE.json:15, is testable; re-align to the reference when the
mount is populated — SURVEY.md §0.1 item 5). The stages apply in
order, each to the output of the previous one:

1. drop ``<script…>…</script…>`` and ``<style…>…</style…>`` blocks
   inclusive (case-insensitive tag names; unclosed block runs to end
   of document; overlapping blocks union);
2. strip every other ``<…>`` tag (unclosed ``<`` consumes to end of
   document; a bare ``>`` is literal text);
3. decode exactly ``&amp; &lt; &gt; &quot; &apos; &#NNN; &#xHH;`` on
   the tag-stripped text (≤ 8 chars between ``&`` and ``;``; numeric
   value ≤ U+10FFFF and not a surrogate; anything else stays literal);
4. collapse every run of ``[ \\t\\r\\n]`` — including whitespace
   produced by step 3 — to one space;
5. strip leading/trailing space.

Implementation is staged vectorized passes over the whole Arrow batch
(no per-row Python): tag spans by pairing ``<`` with the next ``>``
(searchsorted), block union via a ±1 delta array + cumsum, entity
parse via an (n_entities × 8) gather matrix on the tag-stripped
stream, whitespace collapse via shifted masks over emitted units.
The independent sequential oracle is fixtures/make_golden.py; the two
are hypothesis-fuzzed against each other (tests/test_extract.py).
"""

from __future__ import annotations

import numpy as np

from ultraviolet_spark.kernels.buffers import copy_rows, gather_rows

_I64 = np.int64
_U8 = np.uint8

_WS = (0x20, 0x09, 0x0D, 0x0A)
_NAMED = {b"amp": 0x26, b"lt": 0x3C, b"gt": 0x3E, b"quot": 0x22, b"apos": 0x27}


def _lower(a: np.ndarray) -> np.ndarray:
    return np.where((a >= 0x41) & (a <= 0x5A), a | 0x20, a)


def _utf8_len(cp: np.ndarray) -> np.ndarray:
    n = np.ones(len(cp), dtype=_I64)
    n += cp >= 0x80
    n += cp >= 0x800
    n += cp >= 0x10000
    return n


def _utf8_bytes(cp: np.ndarray, L: int) -> tuple:
    """The L UTF-8 bytes of codepoints that all take L bytes."""
    if L == 1:
        return (cp,)
    lead = (0xC0, 0xE0, 0xF0)[L - 2] | (cp >> (6 * (L - 1)))
    return (lead, *[0x80 | ((cp >> (6 * k)) & 0x3F) for k in range(L - 2, -1, -1)])


def _strip_tags(b: np.ndarray, offsets: np.ndarray):
    """Stages 1+2 as MERGED removed-spans ``(starts, ends)`` over the
    flat buffer (sorted, disjoint, within-row by construction).  All
    work happens at the sparse '<'/'>' positions; row ends are resolved
    for those positions only (searchsorted on the n+1 offsets) instead
    of materializing a per-byte row_end array.  Returning spans instead
    of a dense mask lets the caller compact by slice-memcpy and skip
    the full-width delta/cumsum/compress passes entirely."""
    total = len(b)
    lt = np.flatnonzero(b == 0x3C)                      # '<'
    if not len(lt):
        return np.empty(0, dtype=_I64), np.empty(0, dtype=_I64)
    # row end of each '<' position (sparse — replaces the dense gather)
    re_lt = offsets[np.searchsorted(offsets, lt, side="right")]
    gt = np.flatnonzero(b == 0x3E)                      # '>'
    if len(gt):
        gi = np.searchsorted(gt, lt)
        close = np.where(gi < len(gt), gt[np.minimum(gi, len(gt) - 1)], total)
    else:
        close = np.full(len(lt), total, dtype=_I64)
    tag_end = np.minimum(close + 1, re_lt)              # clamp unclosed to row end

    def name_match(name: bytes, closing: bool):
        off = 2 if closing else 1
        m = np.ones(len(lt), dtype=bool)
        if closing:
            nxt = lt + 1
            ok = nxt < re_lt
            m &= ok
            m[ok] &= b[nxt[ok]] == 0x2F
        else:
            nxt = lt + 1
            ok = nxt < re_lt
            m &= ok
            m[ok] &= b[nxt[ok]] != 0x2F
        for k, ch in enumerate(name):
            idx = lt + off + k
            ok = idx < re_lt
            m &= ok
            good = m.copy()
            m[good] &= _lower(b[idx[good]].astype(np.int16)) == ch
        idx = lt + off + len(name)
        ok = idx < re_lt
        m &= ok
        good = m.copy()
        term = b[idx[good]]
        m[good] &= ((term == 0x3E) | (term == 0x2F) | (term == 0x20)
                    | (term == 0x09) | (term == 0x0D) | (term == 0x0A))
        return m

    span_s = [lt]
    span_e = [tag_end]
    for name in (b"script", b"style"):
        opens = name_match(name, closing=False)
        closes = name_match(name, closing=True)
        o = lt[opens]
        if not len(o):
            continue
        c_starts = lt[closes]
        c_ends = tag_end[closes]
        if len(c_starts):
            ci = np.searchsorted(c_starts, o)
            blk_end = np.where(
                ci < len(c_starts), c_ends[np.minimum(ci, len(c_ends) - 1)], total
            )
        else:
            blk_end = np.full(len(o), total, dtype=_I64)
        blk_end = np.minimum(blk_end, re_lt[opens])
        span_s.append(o)
        span_e.append(blk_end)
    if len(span_s) > 1:
        st = np.concatenate(span_s)
        en = np.concatenate(span_e)
        order = np.argsort(st, kind="stable")
        st = st[order]
        en = en[order]
    else:
        st, en = lt, tag_end
    # union of (possibly overlapping / nested) spans via running max of
    # ends — all sparse ops on the ~tags-per-batch position lists.
    # STRICT overlap only: touching spans may sit in different rows
    # ('x<' | '<'), and merging across a row boundary would break the
    # within-row invariant the caller's per-row counts rely on.
    cme = np.maximum.accumulate(en)
    newg = np.ones(len(st), dtype=bool)
    newg[1:] = st[1:] >= cme[:-1]
    gidx = np.flatnonzero(newg)
    m_start = st[gidx]
    m_end = cme[np.append(gidx[1:], len(st)) - 1]
    return m_start.astype(_I64, copy=False), m_end.astype(_I64, copy=False)


def _parse_entities(s: np.ndarray, s_off: np.ndarray):
    """Stage 3 on the tag-stripped stream.  Returns
    (ent_pos '&' indices, ent_cp, ent_stop index-after-';').  Row ends
    are resolved per-'&' by a searchsorted against the ~batch-size row
    offsets — never a dense per-byte row_end array (round-3: that
    materialization alone was ~8% of the entity-dense budget)."""
    total = len(s)
    # positions in int32 when the batch allows (guarded) — halves the
    # memory traffic of every gather/compare below
    pos_t = np.int32 if total + 16 < 2**31 else _I64  # +16: amp+1+k adds ≤ 9
    amp = np.flatnonzero(s == 0x26).astype(pos_t)
    if not len(amp):
        z = np.zeros(0, dtype=_I64)
        return z, z, z
    semi = np.flatnonzero(s == 0x3B).astype(pos_t)
    if not len(semi):
        z = np.zeros(0, dtype=_I64)
        return z, z, z
    si = np.searchsorted(semi, amp)
    # appended `total` sentinel stands in for "no semi after": it always
    # fails `q < row_end[amp]`, so no separate si-bounds check needed
    semi_pad = np.append(semi, pos_t(total))
    q = semi_pad[si]
    blen = q - amp - 1
    # row end per '&' by the REVERSE search: n+1 binary searches of the
    # row offsets into the amp list (not n_amp searches into the
    # offsets) + one repeat — ~3× cheaper at high '&' density
    amps_before = np.searchsorted(amp, s_off[1:])
    amps_per_row = np.diff(amps_before, prepend=0)
    row_end_amp = np.repeat(s_off[1:], amps_per_row)
    cand = (q < row_end_amp) & (blen >= 1) & (blen <= 8)

    # ≤8 body bytes per '&' via 8 clipped column gathers into a
    # C-contiguous (n,8) u8 matrix — the old per-column masked
    # fancy-index build was 8 mask+nonzero+scatter passes and dominated
    # entity-dense batches.  Positions ≥ blen hold garbage; every
    # consumer below masks by blen, so no fill needed.  int32 gather
    # indices (guarded) halve the index traffic.
    na = len(amp)
    # First 4 body bytes full-width (that covers every named entity and
    # the '#'/'x' numeric markers); bytes 4-7 are gathered later for the
    # numeric candidates only — half the gather traffic of a full
    # (na, 8) matrix.
    body = np.empty((na, 4), dtype=_U8)
    gidx = np.empty(na, dtype=pos_t)
    for k in range(4):
        np.add(amp, 1 + k, out=gidx)
        np.minimum(gidx, total - 1, out=gidx)
        body[:, k] = s[gidx]

    # Named entities: the contiguous u8 rows ARE little-endian u32s —
    # one zero-copy view packs them; compare against 5 constants.
    # Names are grouped by length so the blen-mask is a SCALAR and per
    # name one u32 compare suffices (no per-element mask array).
    packed = body.view("<u4").ravel()
    ent_cp = np.zeros(na, dtype=np.int64)
    ent_ok = np.zeros(na, dtype=bool)
    by_len: dict[int, list] = {}
    for name, cpv in _NAMED.items():
        by_len.setdefault(len(name), []).append((name, cpv))
    for nlen, entries in by_len.items():
        pk = packed & np.uint32((1 << (8 * nlen)) - 1)
        m_len = cand & (blen == nlen)
        for name, cpv in entries:
            m = m_len & (pk == np.uint32(int.from_bytes(name, "little")))
            ent_cp[m] = cpv
            ent_ok |= m
    # Numeric entities: COMPACT to the '#' candidates before the digit
    # loops — every pass below then costs O(n_numeric) instead of
    # O(n_amp) (on entity-dense batches the digit loops dominated).
    inn = np.flatnonzero(cand & (body[:, 0] == 0x23) & (blen >= 2))
    if len(inn):
        nn = len(inn)
        ai = amp[inn]
        # TRANSPOSED digit matrix: each k-column is a contiguous row, so
        # the horner loop reads it as a view (the row-major layout paid
        # a strided astype per iteration); int16 digits / int32 value
        # halve the loop's memory traffic vs int64
        bnT = np.empty((8, nn), dtype=_U8)
        bnT[:4] = body[inn].T
        for k in range(4, 8):
            bnT[k] = s[np.minimum(ai + (1 + k), total - 1)]
        bln = blen[inn]
        hexm = ((bnT[1] == 0x78) | (bnT[1] == 0x58)) & (bln >= 3)
        cp_n = np.zeros(nn, dtype=np.int64)
        ok_n = np.zeros(nn, dtype=bool)
        for m, base, dstart in ((~hexm, 10, 1), (hexm, 16, 2)):
            if not m.any():
                continue
            val = np.zeros(nn, dtype=np.int32)
            good = m.copy()
            # only iterate to the longest body actually present (typical
            # entities are 2-5 chars; a fixed 8-iteration loop pays ~2×
            # the digit passes), branch-free np.where throughout
            kmax = int(bln[m].max())
            for k in range(dstart, min(kmax, 8)):
                active = good & (k < bln)
                d = bnT[k].astype(np.int16)
                dv = np.where((d >= 0x30) & (d <= 0x39), d - 0x30,
                              np.int16(-1))
                if base == 16:
                    dl = _lower(d)
                    dv = np.where((dl >= 0x61) & (dl <= 0x66),
                                  dl - (0x61 - 10), dv)
                good &= ~(active & (dv < 0))
                val = np.where(good & active,
                               np.minimum(val * np.int32(base) + dv,
                                          np.int32(0x7FFFFFFF)), val)
            good &= (val <= 0x10FFFF) & ~((val >= 0xD800) & (val < 0xE000))
            cp_n[good] = val[good]
            ok_n |= good
        hit = inn[ok_n]
        ent_cp[hit] = cp_n[ok_n]
        ent_ok[hit] = True
    return amp[ent_ok], ent_cp[ent_ok], (q + 1)[ent_ok]


def extract_text(data: np.ndarray, offsets: np.ndarray):
    """(utf-8 text data, offsets) → (extracted data, offsets)."""
    n = len(offsets) - 1
    total = int(offsets[-1])
    empty_off = np.zeros(n + 1, dtype=_I64)
    if total == 0:
        return np.empty(0, dtype=_U8), empty_off

    b = np.ascontiguousarray(data[:total])

    # ---- stages 1+2 → compact stream s ---------------------------------
    # removed spans are sorted, disjoint, within-row; real HTML has
    # ~10-100 byte text runs between tags, so compaction is a bounded
    # slice-memcpy stitch over the keep segments and the per-row counts
    # come from one searchsorted of the span starts against row offsets
    # (the round-2 dense delta/cumsum/bool-compress formulation cost 3
    # full-width passes + a reduceat here).
    rem_s, rem_e = _strip_tags(b, offsets)
    if not len(rem_s):
        s = b.copy()                                    # callee may mutate s
        s_off = offsets.astype(_I64, copy=False)
    else:
        cum_rem = np.zeros(len(rem_s) + 1, dtype=_I64)
        np.cumsum(rem_e - rem_s, out=cum_rem[1:])
        si = np.searchsorted(rem_s, offsets)            # spans are within-row
        s_off = offsets - cum_rem[si]
        S = int(s_off[-1])
        n_seg = len(rem_s) + 1
        if n_seg <= max(4096, total >> 9):
            s = np.empty(S, dtype=_U8)
            seg_s = np.concatenate(([0], rem_e))
            seg_e = np.concatenate((rem_s, [total]))
            d0 = 0
            for k in range(n_seg):
                a = int(seg_s[k])
                b2 = int(seg_e[k])
                if b2 > a:
                    s[d0:d0 + b2 - a] = b[a:b2]
                    d0 += b2 - a
        else:
            # pathological tag density: dense keep mask.  Merged span
            # starts are unique and so are the ends, so direct scatters
            # are exact (np.add.at is ~20× slower); spans may TOUCH
            # (rem_e[k] == rem_s[k+1]), hence `-=` on the ends: +1-1
            # cancels there.  Disjoint spans keep the running sum at 0
            # or 1, so int8 suffices (a quarter of int32's traffic).
            delta = np.zeros(total + 1, dtype=np.int8)
            delta[rem_s] = 1
            delta[rem_e] -= 1
            s = b[np.cumsum(delta[:total], dtype=np.int8) == 0]

    if not len(s):
        return np.empty(0, dtype=_U8), empty_off

    # ---- row split on entity presence ----------------------------------
    # One '&' anywhere would drag the WHOLE batch through the entity
    # path (span marking, unit gather, unit-space row bounds).  Rows are
    # independent, so split: entity-free rows skip it, outputs stitched
    # back by row id.
    if (s == 0x26).any():
        # rows containing '&' via the amp position list + n+1 binary
        # searches — a bool reduceat over the whole stream costs ~4×
        # (numpy reduceat is not SIMD)
        amp_all = np.flatnonzero(s == 0x26)
        amp_counts = np.diff(np.searchsorted(amp_all, s_off))
        rows_b = np.flatnonzero(amp_counts > 0)
        if 0 < len(rows_b) <= (3 * n) // 4 and n >= 8:
            rows_a = np.flatnonzero(amp_counts == 0)
            s_lens = np.diff(s_off)
            sA, offA_in = gather_rows(s, s_off[rows_a], s_lens[rows_a])
            sB, offB_in = gather_rows(s, s_off[rows_b], s_lens[rows_b])
            outA, offA = _process_units_chunked(sA, offA_in, len(rows_a))
            outB, offB = _process_units_chunked(sB, offB_in, len(rows_b))
            out_lens = np.zeros(n, dtype=_I64)
            out_lens[rows_a] = np.diff(offA)
            out_lens[rows_b] = np.diff(offB)
            out_offsets = np.zeros(n + 1, dtype=_I64)
            np.cumsum(out_lens, out=out_offsets[1:])
            out = np.empty(int(out_offsets[-1]), dtype=_U8)
            copy_rows(out, out_offsets[rows_a], outA, offA[:-1], out_lens[rows_a])
            copy_rows(out, out_offsets[rows_b], outB, offB[:-1], out_lens[rows_b])
            return out, out_offsets
    return _process_units_chunked(s, s_off, n)


# ~256 KB row-aligned segments keep the ~25 unit-stage passes
# L2-resident (same measured ~2× as the utf8 dense analyzer's chunking);
# _process_units is purely row-local, so stitching is offset arithmetic.
_UNIT_CHUNK = 1 << 18

# html bytes per row-aligned slice of the fused stage
# (functions/udfs.py:transcode_extract_batches), whose kernel
# temporaries peak at several times a slice.  Measured on 4 vCPUs at
# 1 / 2 / 4 MB slices and unsliced: perfbench pit_large_mixed_pages
# worker peak RSS 162 / 166 / 172 / 210 MB; out of Spark, the largest
# allocation over 10-20 MB batches 11.5 / 15.1 / 23.0 / 78 MB.  One
# core, 50 MB of that html: 1 MB slices ran ~5% slower than unsliced,
# 2 MB ones did not.
STAGE_SLICE = 2 << 20


def _process_units_chunked(s: np.ndarray, s_off: np.ndarray, n: int):
    if len(s) <= _UNIT_CHUNK + (_UNIT_CHUNK >> 1):
        return _process_units(s, s_off, n)
    outs = []
    out_off = np.zeros(n + 1, dtype=_I64)
    r0, base = 0, 0
    while r0 < n:
        r1 = int(np.searchsorted(s_off, s_off[r0] + _UNIT_CHUNK, "left"))
        r1 = min(max(r1, r0 + 1), n)   # a single >chunk row stands alone
        seg_off = (s_off[r0:r1 + 1] - s_off[r0]).astype(_I64)
        o, oo = _process_units(s[s_off[r0]:s_off[r1]], seg_off, r1 - r0)
        outs.append(o)
        out_off[r0 + 1:r1 + 1] = base + oo[1:]
        base += int(oo[-1])
        r0 = r1
    return np.concatenate(outs), out_off


def _process_units(s: np.ndarray, s_off: np.ndarray, n: int):
    """Stages 3–5 over a compacted (tag-stripped) stream: entity parse,
    whitespace collapse, edge strip, splice.  Row-aligned: returns
    (out bytes, out_offsets[n+1])."""
    empty_off = np.zeros(n + 1, dtype=_I64)
    if not len(s):
        return np.empty(0, dtype=_U8), empty_off
    # int32 position indices are ~2× faster on the pure-memory-traffic
    # unit stages, but wrap silently past 2 GiB — guard once here (like
    # encode.py/buffers.py) instead of trusting the Arrow-batch-size
    # convention (ADVICE r2).
    idx_t = np.int32 if len(s) + 2 < 2**31 else _I64

    # ---- stage 3: entities on s ----------------------------------------
    # gate on a single compare pass: batches with no '&' at all (most
    # real crawl batches) skip the entity scan entirely
    if (s == 0x26).any():
        ent_pos, ent_cpv, ent_stop = _parse_entities(s, s_off)
    else:
        ent_pos = ent_cpv = ent_stop = np.empty(0, dtype=np.int64)

    have_ents = bool(len(ent_pos))
    if have_ents:
        # Every entity's UTF-8 is written IN PLACE over the head of its
        # own span (s is always a fresh boolean-index/gather product,
        # never a caller buffer) and the rest of the span is consumed,
        # so every unit is one byte and the whole batch takes the
        # one-byte splice below; the entity bytes' ws-ness and emission
        # are intrinsic to them (multi-byte UTF-8 is never ws).  The
        # bytes always fit with room to spare: an ASCII entity spans
        # ≥ 4 bytes (&lt; &#9;), and a wide one (≥ U+0080) is numeric and
        # spans its UTF-8 length + 4 at least (&#128; / &#x80; for 2
        # bytes, &#2048; for 3, &#65536; for 4).
        el = _utf8_len(ent_cpv)
        for L in range(1, 5):
            g = np.flatnonzero(el == L)
            if len(g):
                pos, cp = ent_pos[g], ent_cpv[g]
                for j, byte in enumerate(_utf8_bytes(cp, L)):
                    s[pos + j] = byte
        d2 = np.zeros(len(s) + 1, dtype=np.int8)
        # direct scatter, not np.add.at (which is ~20× slower): valid
        # entities never overlap ('&'/';' can't appear inside a valid
        # body), so all ent_pos+el and ent_stop indices are distinct —
        # ent_pos_i+el_i < ent_stop_i = q_i+1 ≤ amp_j for any later
        # entity j.
        d2[ent_pos + el] = 1                            # span after the UTF-8
        d2[ent_stop] = -1
        consumed = np.cumsum(d2[:len(s)], dtype=np.int8) > 0
        # idx_t indices throughout (int32 below 2 GiB, guarded above) —
        # the unit stage is pure memory traffic, so index width is the cost
        unit_idx = np.flatnonzero(~consumed).astype(idx_t)
        U = len(unit_idx)
        ubyte = s[unit_idx]  # stays uint8
    else:
        # every byte is a unit: skip the flatnonzero + gathers (three
        # full-array passes of pure memory traffic)
        U = len(s)
        ubyte = s
    if U == 0:
        return np.empty(0, dtype=_U8), empty_off

    # explicit ORs — np.isin is sort-based and dominates the whole
    # kernel on MB-scale arrays
    u_is_ws = (ubyte == 0x20) | (ubyte == 0x09) | (ubyte == 0x0D) | (ubyte == 0x0A)

    # ---- stages 4+5: collapse + strip over the unit sequence -----------
    # Row boundaries in unit space via ONE searchsorted of the n+1 row
    # offsets against unit_idx (empty rows collapse to duplicate
    # boundaries) — no per-unit row-id array, no bincount.
    if have_ents:
        us = np.searchsorted(unit_idx, s_off).astype(_I64)
    else:
        us = s_off
    rows_with_units = np.flatnonzero(np.diff(us) > 0)
    row_unit_starts = us[rows_with_units]
    new_row = np.zeros(U, dtype=bool)
    new_row[row_unit_starts] = True
    prev_ws = np.zeros(U, dtype=bool)
    prev_ws[1:] = u_is_ws[:-1]
    prev_ws[new_row] = False
    ws_keep = u_is_ws & ~prev_ws

    # Edge strip via SPARSE run-start kills (replaces round 2's
    # arange + repeat + two-compare formulation — three full-width
    # arrays just to turn off at most 2 run starts per row):
    # * a leading ws run necessarily starts AT the row start (prev_ws
    #   resets there), so killing ws_keep at every row start removes
    #   the whole leading run — and the all-ws-row case with it;
    # * a trailing ws run is the run containing the row's last unit;
    #   its start is the last run start ≤ that position.
    # Any other run start has non-ws on both sides within the row, i.e.
    # is strictly interior — exactly the old keep condition.
    run_starts = np.flatnonzero(ws_keep)                # pre-kill run starts
    ws_keep[row_unit_starts] = False
    row_last = np.append(row_unit_starts[1:], U) - 1    # last unit per non-empty row
    trail = row_last[u_is_ws[row_last]]
    if len(trail) and len(run_starts):
        ri = np.searchsorted(run_starts, trail, side="right") - 1
        ws_keep[run_starts[np.maximum(ri, 0)]] = False

    # splice: every emitted unit is exactly one byte (entities were
    # written into the stream above).  Dropped units
    # (collapsed/stripped ws) are SPARSE in real text — single
    # spaces collapse to themselves — so splice by copying the
    # keep-segments between dropped-run intervals instead of a
    # full boolean compress; per-row counts via one searchsorted
    # of the dropped positions against the row starts.
    w = ubyte.copy()
    w[ws_keep] = 0x20
    rem = np.flatnonzero(u_is_ws & ~ws_keep)        # dropped unit positions
    n_rem = len(rem)
    out_offsets = np.zeros(n + 1, dtype=_I64)
    if n_rem == 0:
        np.cumsum(np.diff(us), out=out_offsets[1:])
        return w, out_offsets
    removed_per_row = np.diff(np.searchsorted(rem, us))
    np.cumsum(np.diff(us) - removed_per_row, out=out_offsets[1:])
    # collapse adjacent dropped positions into intervals
    brk = np.flatnonzero(np.diff(rem) > 1) + 1
    ivl_start = rem[np.concatenate(([0], brk))]
    ivl_end = rem[np.concatenate((brk - 1, [n_rem - 1]))] + 1
    if len(ivl_start) <= max(4096, U >> 7):
        out = np.empty(U - n_rem, dtype=_U8)
        seg_s = np.concatenate(([0], ivl_end))      # keep-segment starts
        seg_e = np.concatenate((ivl_start, [U]))    # keep-segment ends
        d0 = 0
        for k in range(len(seg_s)):
            a = int(seg_s[k])
            b2 = int(seg_e[k])
            if b2 > a:
                out[d0:d0 + b2 - a] = w[a:b2]
                d0 += b2 - a
        return out, out_offsets
    emit = ~u_is_ws | ws_keep                       # dense-drop fallback
    return w[emit], out_offsets
