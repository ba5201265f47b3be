"""Codepoint-class histogram tests (SURVEY.md §2.1 codepoint_classify)."""

from __future__ import annotations

import unicodedata

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ultraviolet_spark.kernels.classify import (
    CLASS_NAMES,
    K,
    codepoint_class_histogram,
)

_CAT_IDX = {"L": 0, "M": 1, "N": 2, "P": 3, "S": 4, "Z": 5, "C": 6}


def _rows_to_cp(rows: list[str]):
    cps = [[ord(c) for c in r] for r in rows]
    flat = np.array([c for row in cps for c in row], dtype=np.uint32)
    offsets = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in cps], out=offsets[1:])
    return flat, offsets


def _slow_hist(s: str) -> list[int]:
    h = [0] * K
    for c in s:
        h[_CAT_IDX.get(unicodedata.category(c)[0], 6)] += 1
        cp = ord(c)
        h[7 if cp < 0x80 else 8 if cp < 0x100 else 9 if cp < 0x10000 else 10] += 1
    return h


def test_basic():
    rows = ["Ab1. ", "héllo", "💩", ""]
    flat, offsets = _rows_to_cp(rows)
    hist = codepoint_class_histogram(flat, offsets)
    assert hist.shape == (4, K)
    for i, r in enumerate(rows):
        assert hist[i].tolist() == _slow_hist(r), r


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=40), min_size=1, max_size=6))
def test_matches_unicodedata(rows):
    flat, offsets = _rows_to_cp(rows)
    hist = codepoint_class_histogram(flat, offsets)
    for i, r in enumerate(rows):
        assert hist[i].tolist() == _slow_hist(r), r


def test_names_length():
    assert len(CLASS_NAMES) == K == 11


def test_category_table_equals_list_built_table():
    from ultraviolet_spark.kernels.classify import _category_table

    cats = [unicodedata.category(chr(c))[0] for c in range(0x110000)]
    want = np.array([_CAT_IDX.get(c, 6) for c in cats], dtype=np.uint8)
    got = _category_table()
    assert got.dtype == np.uint8
    np.testing.assert_array_equal(got, want)


def test_classify_throughput_regression():
    """Perf floor for the fused 28-bucket LUT histogram (round 3: one
    gather + one flat bincount; 3.2-5.2x over the two-gather/two-
    bincount formulation).  Drift-robust RATIO vs a raw full-width
    astype pass timed in the same process (the fused path sustains
    ~0.06-0.2x of pure memcpy speed across host modes; the old
    formulation measured ~0.012x), plus a loose absolute floor on a
    quiet host."""
    import os
    import time

    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

    rng = np.random.default_rng(7)
    vals = np.array([65, 97, 32, 46, 0xE9, 0x4E2D, 0x1F600], dtype=np.uint32)
    cp = rng.choice(vals, p=[.3, .3, .15, .05, .1, .08, .02],
                    size=2000 * 2500).astype(np.uint32)
    off = np.arange(0, cp.size + 1, 2500, dtype=np.int64)
    codepoint_class_histogram(cp, off)  # warm (builds the LUT)

    def best_of(f, reps=5):
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            f()
            best = min(best, time.perf_counter() - t0)
        return best

    full = best_of(lambda: codepoint_class_histogram(cp, off))
    base = best_of(lambda: cp.astype(np.intp))
    mcps = cp.size / full / 1e6
    assert base / full >= 0.025, (base / full, mcps)
    if os.getloadavg()[0] < 4.0:
        assert mcps >= 40.0, mcps
