"""Codepoint-class histograms (SURVEY.md §2.1 `codepoint_classify`).

Bucket list: Unicode general-category major classes (L M N P S Z C)
plus coverage buckets (ASCII, Latin-1 supplement, other BMP, astral) —
K = 11 fixed buckets.  The reference's exact bucket list is
[REF-UNAVAILABLE] (SURVEY.md §0.1 item 4); swapping the list only
touches `CLASS_NAMES` / `_build_table`.

The per-codepoint class lookup is a single precomputed 0x110000-entry
uint8 table (built once per process from `unicodedata`, ~1 s, cached),
so classifying a batch is one fancy-index + one bincount.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from ultraviolet_spark.kernels.utf8 import utf8_to_codepoints_trusted

CLASS_NAMES = [
    "letter", "mark", "number", "punct", "symbol", "sep", "other",
    "ascii", "latin1", "bmp", "astral",
]
K = len(CLASS_NAMES)
_CAT_IDX = {"L": 0, "M": 1, "N": 2, "P": 3, "S": 4, "Z": 5, "C": 6}


@lru_cache(maxsize=1)
def _category_table() -> np.ndarray:
    # streamed into the array: built through 1.1M-element lists, the
    # freed list memory (~17.7 MB) stays resident in every Python
    # worker, whose malloc thresholds (session.py) never trim the heap
    import unicodedata

    return np.fromiter(
        (_CAT_IDX.get(unicodedata.category(chr(c))[0], 6) for c in range(0x110000)),
        dtype=np.uint8, count=0x110000)


@lru_cache(maxsize=1)
def _combined_table() -> np.ndarray:
    """cp → cat*4 + plane (28 fused buckets).  Every codepoint lands in
    exactly ONE category bucket and ONE plane bucket, so a single
    28-bin histogram carries both: summing the (7, 4) reshape over
    planes recovers the category counts and over categories the plane
    counts.  Folding the two lookups into one u8 table turns the old
    two-gather / two-bincount / three-masked-scatter formulation into
    one gather + one bincount (measured 3.2-5.2× across row shapes)."""
    tab = (_category_table() * np.uint8(4)).copy()
    tab[0x80:0x100] += 1                                  # latin1
    tab[0x100:0x10000] += 2                               # bmp
    tab[0x10000:] += 3                                    # astral
    return tab


_CHUNK = 1 << 17  # codepoints per segment: temporaries stay cache-resident


def codepoint_class_histogram(cp: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """(flat codepoints u32, row offsets) → int64[n_rows, K] histogram.

    Processed in ~128 K-codepoint segments so the per-element
    temporaries (intp gather index, int64 flat-bincount base) never
    leave cache — an Arrow batch of 2000 × 10 KB pages would otherwise
    stream ~320 MB of index temporaries through DRAM per batch per
    worker (measured 1.1-1.7× single-core, and it is the multi-worker
    bandwidth contention that the 4-core scaling leg pays for).
    Segment counts are additive, so rows cut by a boundary just
    accumulate via `+=`."""
    n = len(offsets) - 1
    if n == 0:
        return np.zeros((0, K), dtype=np.int64)
    tab = _combined_table()
    total = int(offsets[-1])
    h28 = np.zeros((n, 28), dtype=np.int64)
    for lo in range(0, total, _CHUNK):
        hi = min(lo + _CHUNK, total)
        r0 = int(np.searchsorted(offsets, lo, "right")) - 1
        r1 = int(np.searchsorted(offsets, hi, "left"))    # rows [r0, r1)
        idx = cp[lo:hi].astype(np.intp)                   # gather index
        if idx.size and int(idx.max()) > 0x10FFFF:        # rare guard
            np.minimum(idx, 0x10FFFF, out=idx)
        ids = np.take(tab, idx)                           # u8 fused ids
        # flat (row*28 + id) bincount: int64 base so bincount's intp
        # view is zero-copy (int32 would pay a hidden full conversion)
        loc = np.clip(offsets[r0:r1 + 1] - lo, 0, hi - lo)
        base = np.repeat(np.arange(0, (r1 - r0) * 28, 28, dtype=np.int64),
                         np.diff(loc))
        base += ids
        h28[r0:r1] += np.bincount(
            base, minlength=(r1 - r0) * 28).reshape(r1 - r0, 28)
    h3 = h28.reshape(n, 7, 4)
    hist = np.empty((n, K), dtype=np.int64)
    hist[:, :7] = h3.sum(axis=2)                          # categories
    hist[:, 7:] = h3.sum(axis=1)                          # planes
    return hist


_U8_CHUNK = 1 << 17  # UTF-8 bytes per row-aligned slice


def utf8_class_histogram(data: np.ndarray, offsets: np.ndarray):
    """Well-formed UTF-8 rows → (codepoint count i64[n], histogram
    i64[n, K]): ``codepoint_class_histogram`` of
    ``utf8_to_codepoints_trusted``, one row-aligned ~128 KB slice at a
    time, so the u32 codepoints and their int64 lead indices stay
    cache-sized instead of ~12 bytes per character of the batch."""
    n = len(offsets) - 1
    text_len = np.zeros(n, dtype=np.int64)
    hist = np.zeros((n, K), dtype=np.int64)
    r0 = 0
    while r0 < n:
        r1 = int(np.searchsorted(offsets, offsets[r0] + _U8_CHUNK, "left"))
        r1 = min(max(r1, r0 + 1), n)   # a single >chunk row stands alone
        cp, cpo = utf8_to_codepoints_trusted(
            data[offsets[r0]:offsets[r1]], offsets[r0:r1 + 1] - offsets[r0])
        text_len[r0:r1] = np.diff(cpo)
        hist[r0:r1] = codepoint_class_histogram(cp, cpo)
        r0 = r1
    return text_len, hist
