"""Golden conformance tests for the UTF-8 kernels (SURVEY.md §5.1).

Oracle: CPython codecs (normative stand-in for the reference's
conformance suite while /root/reference is empty — SURVEY.md §0.1).
The §2.1 transcript cases are spelled out verbatim; plus the exhaustive
2-byte space and encoding-boundary codepoints.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ultraviolet_spark.kernels.buffers import list_from_rows, rows_from_list
from ultraviolet_spark.kernels.utf8 import (
    utf8_decode_replace,
    utf8_to_codepoints,
    utf8_validate,
)

# (case_id, bytes) — expectations come from CPython itself.
CASES = [
    ("ascii", b"hello"),
    ("empty", b""),
    ("valid_2byte", b"\xc3\xa9"),
    ("valid_3byte", b"\xe2\x82\xac"),
    ("valid_4byte_astral", b"\xf0\x9f\x92\xa9"),
    ("overlong_slash", b"\xc0\xaf"),
    ("overlong_nul", b"\xe0\x80\x80"),
    ("overlong_4byte", b"\xf0\x80\x80\x80"),
    ("surrogate_d800", b"\xed\xa0\x80"),
    ("surrogate_dfff", b"\xed\xbf\xbf"),
    ("above_10ffff", b"\xf4\x90\x80\x80"),
    ("truncated_3byte", b"\xe2\x82"),
    ("truncated_4byte", b"\xf0\x9f\x92"),
    ("lone_continuation", b"\x80"),
    ("lone_lead_2", b"\xc2"),
    ("lone_lead_4", b"\xf0"),
    ("illegal_5byte", b"\xf8\x88\x80\x80\x80"),
    ("fe", b"\xfe"),
    ("ff", b"\xff"),
    ("mixed", b"ok\xc3\xa9\x80end\xf0\x9f\x92"),
    ("nul_embedded", b"a\x00b"),
    ("bom_as_content", b"\xef\xbb\xbfhi"),
    ("truncated_then_valid", b"\xe2\x82\xc3\xa9"),
    ("f0_then_bad_cont", b"\xf0\x9f\xc3\xa9"),
    ("ed_9f_bf_valid", b"\xed\x9f\xbf"),       # U+D7FF — highest before surrogates
    ("ee_80_80_valid", b"\xee\x80\x80"),       # U+E000 — first after surrogates
    ("c0", b"\xc0"),
    ("c1_bf", b"\xc1\xbf"),
    ("e0_9f_80", b"\xe0\x9f\x80"),             # second byte below E0's floor
    ("f4_8f_bf_bf", b"\xf4\x8f\xbf\xbf"),      # U+10FFFF — max scalar
]

BOUNDARY_CPS = [0x7F, 0x80, 0x7FF, 0x800, 0xD7FF, 0xE000, 0xFFFD, 0xFFFF, 0x10000, 0x10FFFF]


def _expected(raw: bytes):
    text = raw.decode("utf-8", errors="replace")
    return text, text.count("�") - raw.decode("utf-8", "ignore").count("�")


@pytest.mark.parametrize("case_id,raw", CASES, ids=[c[0] for c in CASES])
def test_decode_replace_matches_cpython(case_id, raw):
    data, offsets = rows_from_list([raw])
    out, oo, n_repl = utf8_decode_replace(data, offsets)
    got = list_from_rows(out, oo)[0].decode("utf-8")
    want, want_repl = _expected(raw)
    assert got == want, f"{case_id}: {got!r} != {want!r}"
    assert n_repl[0] == want_repl, f"{case_id}: n_repl {n_repl[0]} != {want_repl}"


@pytest.mark.parametrize("case_id,raw", CASES, ids=[c[0] for c in CASES])
def test_validate(case_id, raw):
    data, offsets = rows_from_list([raw])
    valid, err_off, n_err = utf8_validate(data, offsets)
    try:
        raw.decode("utf-8", errors="strict")
        want_valid = True
    except UnicodeDecodeError as e:
        want_valid = False
        want_off = e.start
    assert bool(valid[0]) == want_valid
    if want_valid:
        assert err_off[0] == -1
    else:
        assert err_off[0] == want_off


@pytest.mark.parametrize("case_id,raw", CASES, ids=[c[0] for c in CASES])
def test_to_codepoints(case_id, raw):
    data, offsets = rows_from_list([raw])
    cp, cpo = utf8_to_codepoints(data, offsets)
    want = [ord(c) for c in raw.decode("utf-8", errors="replace")]
    assert cp[cpo[0]: cpo[1]].tolist() == want


def test_batch_of_all_cases_at_once():
    """Whole-batch processing must equal per-row processing (row
    isolation via sentinels)."""
    rows = [raw for _, raw in CASES]
    data, offsets = rows_from_list(rows)
    out, oo, n_repl = utf8_decode_replace(data, offsets)
    outs = list_from_rows(out, oo)
    for raw, got, nr in zip(rows, outs, n_repl):
        want, want_repl = _expected(raw)
        assert got.decode("utf-8") == want
        assert nr == want_repl


def test_exhaustive_two_byte_space():
    """All 65,536 2-byte sequences vs CPython in one batch."""
    rows = [bytes([a, b]) for a in range(256) for b in range(256)]
    data, offsets = rows_from_list(rows)
    out, oo, n_repl = utf8_decode_replace(data, offsets)
    outs = list_from_rows(out, oo)
    for raw, got in zip(rows, outs):
        want = raw.decode("utf-8", errors="replace")
        assert got.decode("utf-8") == want, f"{raw.hex()}: {got!r} != {want!r}"


def test_boundary_codepoints_roundtrip():
    rows = [chr(c).encode("utf-8") for c in BOUNDARY_CPS]
    data, offsets = rows_from_list(rows)
    valid, err_off, n_err = utf8_validate(data, offsets)
    assert valid.all()
    cp, cpo = utf8_to_codepoints(data, offsets)
    assert cp.tolist() == BOUNDARY_CPS


def test_empty_batch():
    data, offsets = rows_from_list([])
    out, oo, n_repl = utf8_decode_replace(data, offsets)
    assert len(oo) == 1 and len(n_repl) == 0
    valid, err_off, n_err = utf8_validate(data, offsets)
    assert len(valid) == 0


def test_sparse_analysis_equals_dense():
    """The sparse (non-ASCII-subsequence) classifier must equal the
    dense one bit-for-bit on adversarial byte soup."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ultraviolet_spark.kernels.utf8 import _analyze_dense, _analyze_sparse

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=200), st.integers(0, 50))
    def check(raw, ascii_pad):
        # pad with ASCII to push the batch under the sparse threshold
        b = np.frombuffer(b"a" * ascii_pad + raw + b"\x00", dtype=np.uint8)
        hi = b >= 0x80
        if not hi.any():
            return
        dense = _analyze_dense(b, ascii_=~hi)
        sparse = _analyze_sparse(b, hi)
        for k in dense:
            assert np.array_equal(dense[k], sparse[k]), (k, raw.hex())

    check()


def test_sparse_path_conformance_cases():
    """Every golden case through the dispatching _analyze, embedded in
    enough ASCII to force the sparse path."""
    from ultraviolet_spark.kernels.utf8 import utf8_decode_replace

    pad = b"x" * 64
    rows = [pad + raw + pad for _, raw in CASES]
    data, offsets = rows_from_list(rows)
    out, oo, n_repl = utf8_decode_replace(data, offsets)
    outs = list_from_rows(out, oo)
    for (cid, raw), got, nr in zip(CASES, outs, n_repl):
        want = (pad + raw + pad).decode("utf-8", errors="replace")
        want_repl = want.count("�") - (pad + raw + pad).decode("utf-8", "ignore").count("�")
        assert got.decode("utf-8") == want, cid
        assert nr == want_repl, cid


_ROW = st.lists(
    st.one_of(st.binary(max_size=12),
              st.text(max_size=6).map(lambda t: t.encode("utf-8", "surrogatepass")),
              st.sampled_from([b"\x80", b"\xc3", b"\xe4\xb8", b"\xed\xa0\x80",
                               b"\xf0\x9f\x92", b"\xf4\x90\x80\x80", b"\xff"])),
    max_size=8).map(b"".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(_ROW, min_size=1, max_size=20), st.sampled_from([5, 16, 64]))
def test_validate_multirow_matches_cpython_across_chunks(rows, chunk):
    """Multi-row ``utf8_validate`` against CPython: the strict error's
    ``start`` and the replace count, per row, with chunks small enough
    that U+FFFD positions and row boundaries straddle them."""
    import ultraviolet_spark.kernels.utf8 as U

    data, offsets = rows_from_list(rows)
    old = U._DENSE_CHUNK
    U._DENSE_CHUNK = chunk
    try:
        valid, err_off, n_err = utf8_validate(data, offsets)
    finally:
        U._DENSE_CHUNK = old
    for i, raw in enumerate(rows):
        try:
            raw.decode("utf-8")
            want_off = -1
        except UnicodeDecodeError as e:
            want_off = e.start
        assert err_off[i] == want_off, (raw, err_off[i], want_off)
        assert bool(valid[i]) == (want_off == -1)
        assert n_err[i] == _expected(raw)[1], raw
