"""Arrow/pandas UDF wrappers over the numpy kernels.

Two surfaces (SURVEY.md §2.9):

* ``transcode_extract_batches`` — the hot-path ``mapInArrow`` stage:
  pages(html binary, …) → text_extracted(url, warc_ts, text,
  text_bytes, valid_utf8, n_replacements, bom, lang).  Pure
  Arrow-in/Arrow-out, iterator style (never materializes a partition),
  zero pandas, zero per-row Python.  UTF-8 is its only pivot: html
  decodes once to UTF-8 (clean UTF-8 rows pass through unchanged),
  text is extracted from those bytes, and the optional features read
  the extracted UTF-8 with the trusted decoder.  It runs each Arrow
  batch as row-aligned slices of ~2 MB of html and yields one output
  batch per slice, so a worker's memory follows the slice, not the
  batch.

* scalar ``pandas_udf`` wrappers (utf8_decode_udf, utf8_info_udf,
  cp_class_hist_udf, …) for use inside ordinary DataFrame expressions;
  these cross through pandas Series but all byte work happens in the
  same kernels: UTF-8 input is validated once by
  ``transcode.utf8_repair`` (the fused stage's UTF-8 branch, without
  BOM sniffing, since a JVM string's leading U+FEFF is content) and
  histograms come from ``classify.utf8_class_histogram``.

The pipeline itself uses only the first surface: its features ride the
fused pass (``with_features=True``) in the flagship and the
checkpointed stages alike.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ultraviolet_spark.kernels.buffers import (
    binary_to_offsets,
    offsets_to_pyarrow_string,
)
from ultraviolet_spark.kernels.classify import K, utf8_class_histogram
from ultraviolet_spark.kernels.extract import STAGE_SLICE, extract_text
from ultraviolet_spark.kernels.transcode import (
    BOM_NAMES,
    decode_to_utf8,
    transcode,
    utf8_repair,
)

TEXT_EXTRACTED_FIELDS = [
    T.StructField("text", T.StringType()),
    T.StructField("text_bytes", T.LongType()),
    T.StructField("valid_utf8", T.BooleanType()),
    T.StructField("n_replacements", T.LongType()),
    T.StructField("bom", T.StringType()),
]

# appended when with_features=True (fused into the same pass, so the
# histogram costs no extra JVM→Python crossing)
TEXT_FEATURE_FIELDS = [
    T.StructField("text_len", T.LongType()),
    T.StructField("cp_hist", T.ArrayType(T.LongType())),
]


def _pd_binary_to_buffers(s: pd.Series):
    arr = pa.array(s, type=pa.large_binary())
    return binary_to_offsets(arr)


def _string_out(data, offsets, null_mask=None) -> pd.Series:
    return offsets_to_pyarrow_string(data, offsets, null_mask).to_pandas()


@pandas_udf(T.StringType())
def utf8_decode_udf(s: pd.Series) -> pd.Series:
    """binary → text (U+FFFD replace policy). All decode in numpy — the
    JVM decoder is never allowed to define semantics (SURVEY.md §2.1)."""
    data, offsets, nulls = _pd_binary_to_buffers(s)
    out, oo, _, _ = utf8_repair(data, offsets)
    return _string_out(out, oo, nulls)


UTF8_INFO_SCHEMA = T.StructType([
    T.StructField("valid", T.BooleanType()),
    T.StructField("error_offset", T.LongType()),
    T.StructField("n_repl", T.LongType()),
    T.StructField("decoded", T.StringType()),
])


@pandas_udf(UTF8_INFO_SCHEMA)
def utf8_info_udf(s: pd.Series) -> pd.DataFrame:
    """binary → (valid, first error byte offset, U+FFFD count, decoded
    text) from one validation — the conformance surface q40 checks."""
    data, offsets, nulls = _pd_binary_to_buffers(s)
    out, oo, n_repl, err_off = utf8_repair(data, offsets)
    return pd.DataFrame({
        "valid": pd.Series(np.where(nulls, None, n_repl == 0), dtype=object),
        "error_offset": err_off.astype(np.int64),
        "n_repl": n_repl.astype(np.int64),
        "decoded": _string_out(out, oo, nulls),
    })


@pandas_udf(T.StringType())
def detect_bom_udf(s: pd.Series) -> pd.Series:
    from ultraviolet_spark.kernels.transcode import detect_bom

    data, offsets, nulls = _pd_binary_to_buffers(s)
    bom = detect_bom(data, offsets)
    return pd.Series(np.where(nulls, None, BOM_NAMES[bom]))


@pandas_udf(T.StringType())
def extract_text_udf(s: pd.Series) -> pd.Series:
    """text (already-decoded html string) → extracted text."""
    arr = pa.array(s, type=pa.large_string())
    data, offsets, nulls = binary_to_offsets(arr.cast(pa.large_binary()))
    out, oo = extract_text(data, offsets)
    return _string_out(out, oo, nulls)


@pandas_udf(T.ArrayType(T.LongType()))
def cp_class_hist_udf(s: pd.Series) -> pd.Series:
    """text → codepoint class histogram.  JVM strings can hold
    ill-formed UTF-8, so the bytes are validated (and repaired) first;
    a leading U+FEFF is content, not a BOM."""
    arr = pa.array(s, type=pa.large_string())
    data, offsets, nulls = binary_to_offsets(arr.cast(pa.large_binary()))
    u8, u8o, _, _ = utf8_repair(data, offsets)
    _, hist = utf8_class_histogram(u8, u8o)
    out = pa.FixedSizeListArray.from_arrays(pa.array(hist.ravel(), type=pa.int64()), K)
    res = out.to_pandas()
    if nulls.any():
        res[nulls] = None
    return res


def make_transcode_udf(src: str, dst: str):
    """binary(src encoding) → binary(dst encoding)."""

    @pandas_udf(T.BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        from ultraviolet_spark.kernels.buffers import offsets_to_pyarrow_binary

        data, offsets, nulls = _pd_binary_to_buffers(s)
        out, oo, _ = transcode(data, offsets, src, dst)
        return offsets_to_pyarrow_binary(out, oo, nulls).to_pandas()

    return _udf


# ---------------------------------------------------------------------------
# hot path: mapInArrow transcode+extract stage
# ---------------------------------------------------------------------------

def transcode_extract_batches(
    batches: Iterator[pa.RecordBatch], html_col: str = "html",
    with_features: bool = False,
) -> Iterator[pa.RecordBatch]:
    """Arrow-native pipeline stage: decode (BOM-sniffing, U+FFFD
    replace) → extract text → per-row metrics.  Passes every non-html
    column through untouched; appends TEXT_EXTRACTED_FIELDS (+
    TEXT_FEATURE_FIELDS when ``with_features``: codepoint count and
    class histogram of the extracted text, fused into the same pass so
    the text crosses the JVM↔Python boundary exactly once).  The html
    buffer is never written: clean UTF-8 rows are views of it.

    Each batch runs as zero-copy, row-aligned slices of about
    ``STAGE_SLICE`` html bytes (a larger row is a slice of its own), and
    one output batch is yielded per slice, so the kernels' temporaries
    are bounded by the slice, not the batch.  A batch of at most
    1.5 × ``STAGE_SLICE`` is one slice."""
    for batch in batches:
        _, offsets, _ = binary_to_offsets(batch.column(html_col))
        for r0, r1 in _row_slices(offsets):
            yield _extract_slice(batch.slice(r0, r1 - r0), html_col, with_features)


def _row_slices(offsets: np.ndarray) -> Iterator[tuple[int, int]]:
    """Row ranges [r0, r1) of about ``STAGE_SLICE`` bytes each."""
    n = len(offsets) - 1
    if offsets[-1] <= STAGE_SLICE + (STAGE_SLICE >> 1):
        yield 0, n
        return
    r0 = 0
    while r0 < n:
        r1 = int(np.searchsorted(offsets, offsets[r0] + STAGE_SLICE, "right")) - 1
        r1 = min(max(r1, r0 + 1), n)   # a single >slice row stands alone
        yield r0, r1
        r0 = r1


def _extract_slice(batch: pa.RecordBatch, html_col: str,
                   with_features: bool) -> pa.RecordBatch:
    data, offsets, nulls = binary_to_offsets(batch.column(html_col))
    u8, u8o, n_repl, bom = decode_to_utf8(data, offsets)
    ext, exto = extract_text(u8, u8o)
    del u8                      # free the decoded html before the features

    cols, names = [], []
    for name, col in zip(batch.schema.names, batch.columns):
        if name == html_col:
            continue
        cols.append(col)
        names.append(name)
    cols.append(offsets_to_pyarrow_string(ext, exto, nulls))
    names.append("text")
    cols.append(pa.array(np.diff(exto), type=pa.int64()))
    names.append("text_bytes")
    cols.append(pa.array((n_repl == 0) & ~nulls))
    names.append("valid_utf8")
    cols.append(pa.array(n_repl, type=pa.int64()))
    names.append("n_replacements")
    cols.append(pa.array(BOM_NAMES[bom]))
    names.append("bom")
    if with_features:
        # extracted text is well-formed by construction: no
        # second validation pass
        text_len, hist = utf8_class_histogram(ext, exto)
        cols.append(pa.array(text_len, type=pa.int64()))
        names.append("text_len")
        cols.append(pa.FixedSizeListArray.from_arrays(
            pa.array(hist.ravel(), type=pa.int64()), K).cast(pa.list_(pa.int64())))
        names.append("cp_hist")
    return pa.RecordBatch.from_arrays(cols, names=names)


def extract_stage(pages: DataFrame, html_col: str = "html",
                  with_features: bool = False) -> DataFrame:
    """pages → text_extracted (SURVEY.md §3.1).

    Shuffle-free, embarrassingly parallel; column pruning applies
    because the mapInArrow input schema drops unused columns first.
    ``with_features`` fuses text_len + cp_hist into the same kernel
    pass (one Python crossing for the whole per-row feature set).
    Each input batch comes back as one output batch per row slice of
    ``transcode_extract_batches``, in row order.
    """
    keep = [c for c in pages.columns if c not in ("text",)]  # drop golden col
    src = pages.select(*keep)
    out_fields = [f for f in src.schema.fields if f.name != html_col]
    schema = T.StructType(out_fields + TEXT_EXTRACTED_FIELDS
                          + (TEXT_FEATURE_FIELDS if with_features else []))
    return src.mapInArrow(
        lambda it: transcode_extract_batches(it, html_col, with_features),
        schema=schema,
    )
