"""Peak allocation of the scalar UTF-8 surfaces: ``utf8_validate`` and
``cp_class_hist_udf``'s kernel path classify a batch one chunk at a
time, so their peak stays a small multiple of the batch, not the ~26×
of a whole-buffer classification."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd

from fixtures.make_features_golden import _hist
from ultraviolet_spark.kernels.classify import utf8_class_histogram
from ultraviolet_spark.kernels.transcode import utf8_repair
from ultraviolet_spark.kernels.utf8 import utf8_validate


def _batch(n_rows=2000, row_bytes=10_000, non_ascii=0.02, seed=0):
    """~20 MB of 10 KB rows; about ``non_ascii`` of the bytes are 'é'
    (2 bytes; a pair cut by a row boundary is ill-formed), and every
    20th row carries a stray continuation byte."""
    rng = np.random.default_rng(seed)
    n = n_rows * row_bytes
    data = rng.integers(0x20, 0x7F, size=n, dtype=np.uint8)
    lead = np.flatnonzero(rng.random(n - 1) < non_ascii / 2)
    lead = lead[np.diff(lead, prepend=-2) > 1]   # no overlapping pairs
    data[lead], data[lead + 1] = 0xC3, 0xA9
    offsets = np.arange(0, n + 1, row_bytes, dtype=np.int64)
    data[offsets[:-1:20] + 5] = 0x80
    return data, offsets


def _peak(fn, *args):
    tracemalloc.start()
    try:
        fn(*args)
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def _hist_path(data, offsets):
    u8, u8o, _, _ = utf8_repair(data, offsets)
    return utf8_class_histogram(u8, u8o)


def test_validate_and_histogram_peaks_within_3x_batch():
    data, offsets = _batch()
    raw = data.tobytes()
    want = [raw[a:b].decode("utf-8", "replace").encode() != raw[a:b]
            for a, b in zip(offsets[:-1], offsets[1:])]
    assert (~utf8_validate(data, offsets)[0]).tolist() == want
    for fn in (utf8_validate, _hist_path):
        peak = _peak(fn, data, offsets)
        assert peak <= 3 * len(data), (fn.__name__, peak / len(data))


def test_cp_class_hist_udf_keeps_leading_feff():
    """JVM strings are not BOM-sniffed: a leading U+FEFF is a character
    of the text and is counted in the histogram."""
    from ultraviolet_spark.functions.udfs import cp_class_hist_udf

    texts = ["﻿ab", "a﻿", "﻿", "plain", None]
    got = cp_class_hist_udf.func(pd.Series(texts))
    for t, h in zip(texts, got):
        if t is None:
            assert h is None
        else:
            assert list(h) == _hist(t), t
