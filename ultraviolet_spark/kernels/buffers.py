"""Arrow-layout buffer helpers.

All kernels operate on the Arrow variable-length binary layout:
a flat ``data`` array of ``uint8`` plus an ``offsets`` array of
``int64`` with ``len(offsets) == n_rows + 1`` (row *i* occupies
``data[offsets[i]:offsets[i+1]]``).  This lets a whole Arrow
RecordBatch column be processed in a handful of numpy ops with zero
per-row Python (BASELINE.json:15 mandate).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_U8 = np.uint8
_I64 = np.int64


def binary_to_offsets(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Convert a pyarrow (Large)Binary/(Large)String array to
    ``(data_u8, offsets_i64, null_mask)``.

    Nulls are represented as empty rows plus a boolean mask (True =
    null).  Handles chunked arrays, sliced arrays, and both 32- and
    64-bit offset widths.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    # Normalize sliced arrays: take a compact copy only when sliced.
    if arr.offset != 0:
        arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else pa.concat_arrays([arr])
    typ = arr.type
    if pa.types.is_string(typ) or pa.types.is_binary(typ):
        off_dtype = np.int32
    elif pa.types.is_large_string(typ) or pa.types.is_large_binary(typ):
        off_dtype = np.int64
    else:
        raise TypeError(f"expected (large_)binary/string array, got {typ}")

    buffers = arr.buffers()
    validity, offsets_buf, data_buf = buffers[0], buffers[1], buffers[2]
    offsets = np.frombuffer(offsets_buf, dtype=off_dtype, count=len(arr) + 1 + arr.offset)
    offsets = offsets[arr.offset:].astype(_I64, copy=False)
    if data_buf is None:
        data = np.empty(0, dtype=_U8)
    else:
        data = np.frombuffer(data_buf, dtype=_U8)
    if arr.null_count:
        null_mask = ~np.asarray(arr.is_valid())
    else:
        null_mask = np.zeros(len(arr), dtype=bool)
    # Re-base offsets to 0 (sliced arrays start mid-buffer).
    if len(offsets) and offsets[0] != 0:
        data = data[offsets[0]:offsets[-1]]
        offsets = offsets - offsets[0]
    return data, np.ascontiguousarray(offsets), null_mask


def offsets_to_pyarrow_string(
    data: np.ndarray, offsets: np.ndarray, null_mask: np.ndarray | None = None
) -> pa.Array:
    """Build a pa.LargeStringArray directly from kernel output buffers
    (zero per-row Python)."""
    return _from_buffers(pa.large_utf8(), data, offsets, null_mask)


def offsets_to_pyarrow_binary(
    data: np.ndarray, offsets: np.ndarray, null_mask: np.ndarray | None = None
) -> pa.Array:
    return _from_buffers(pa.large_binary(), data, offsets, null_mask)


def _from_buffers(typ, data, offsets, null_mask):
    n = len(offsets) - 1
    offsets = np.ascontiguousarray(offsets, dtype=_I64)
    data = np.ascontiguousarray(data, dtype=_U8)
    if null_mask is not None and null_mask.any():
        validity = pa.array(~null_mask).buffers()[1]
        null_count = int(null_mask.sum())
    else:
        validity = None
        null_count = 0
    return pa.Array.from_buffers(
        typ,
        n,
        [validity, pa.py_buffer(offsets), pa.py_buffer(data)],
        null_count=null_count,
    )


def rows_from_list(rows: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Test helper: python list[bytes] → (data, offsets)."""
    lengths = np.fromiter((len(r) for r in rows), count=len(rows), dtype=_I64)
    offsets = np.zeros(len(rows) + 1, dtype=_I64)
    np.cumsum(lengths, out=offsets[1:])
    data = np.frombuffer(b"".join(rows), dtype=_U8).copy()
    return data, offsets


def list_from_rows(data: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """Test helper: (data, offsets) → list[bytes]."""
    raw = data.tobytes()
    return [raw[offsets[i]: offsets[i + 1]] for i in range(len(offsets) - 1)]


def copy_rows(dst: np.ndarray, dst_starts: np.ndarray, src: np.ndarray,
              src_starts: np.ndarray, lens: np.ndarray) -> None:
    """dst[dst_starts[j]:+lens[j]] = src[src_starts[j]:+lens[j]] for every
    row j, with no per-byte Python."""
    total = int(lens.sum())
    if not total:
        return
    if total // len(lens) >= 256:
        # KB-sized rows: bounded per-row slice memcpys beat the
        # byte-granular fancy gather ~35× (8-byte indices dominate the
        # traffic)
        for d0, s0, nb in zip(dst_starts.tolist(), src_starts.tolist(),
                              lens.tolist()):
            dst[d0:d0 + nb] = src[s0:s0 + nb]
    else:
        # one arange plus one repeat per side: index = row base + rank
        # of the byte within the output
        rank = np.arange(total, dtype=_I64)
        before = np.cumsum(lens) - lens
        dst[rank + np.repeat(dst_starts - before, lens)] = \
            src[rank + np.repeat(src_starts - before, lens)]


def gather_rows(src: np.ndarray, starts: np.ndarray, lens: np.ndarray,
                sentinel: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Rows src[starts[j]:+lens[j]] packed into a fresh buffer, with one
    0x00 byte after each when ``sentinel``: the layout the UTF-8
    classifier runs on, where the sentinel breaks every multi-byte
    sequence at a row boundary.  Returns (buf, row_starts[n+1])."""
    row_starts = np.zeros(len(lens) + 1, dtype=_I64)
    np.cumsum(lens + sentinel, out=row_starts[1:])
    buf = np.empty(int(row_starts[-1]), dtype=np.uint8)
    if sentinel:
        buf[row_starts[1:] - 1] = 0
    copy_rows(buf, row_starts[:-1], src, starts, lens)
    return buf, row_starts
