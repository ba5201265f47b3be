"""The fused extract stage (`transcode_extract_batches`) and the UTF-8
pivot it rides on, against the independent sequential oracles in
fixtures/: BOM-sniffing CPython decode, the frozen extraction spec and
the per-character class histogram."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from fixtures.make_features_golden import _decode_auto, _hist
from fixtures.make_golden import golden_extract
from ultraviolet_spark.functions.udfs import transcode_extract_batches
from ultraviolet_spark.kernels.buffers import (
    binary_to_offsets,
    list_from_rows,
    rows_from_list,
)
from ultraviolet_spark.kernels.classify import (
    codepoint_class_histogram,
    utf8_class_histogram,
)
from ultraviolet_spark.kernels.transcode import decode_auto, decode_to_utf8
from ultraviolet_spark.kernels.utf8 import (
    utf8_row_errors,
    utf8_to_codepoints,
    utf8_to_codepoints_trusted,
    utf8_validate,
)

# (name in the bom column, BOM bytes, CPython codec); the first entry is
# a row without a BOM
_ENCODINGS = [
    ("none", b"", "utf-8"),
    ("utf-8", b"\xef\xbb\xbf", "utf-8"),
    ("utf-16le", b"\xff\xfe", "utf-16-le"),
    ("utf-16be", b"\xfe\xff", "utf-16-be"),
    ("utf-32le", b"\xff\xfe\x00\x00", "utf-32-le"),
    ("utf-32be", b"\x00\x00\xfe\xff", "utf-32-be"),
]
# longest BOM first: the UTF-32LE BOM starts with the UTF-16LE one
_BOMS_BY_PRIORITY = sorted(_ENCODINGS[1:], key=lambda e: -len(e[1]))

# markup-dense text with 2-, 3- and 4-byte characters
_alpha = st.sampled_from(list("<>&;#/ab \t\nxX0129scriptSTYLE=\"'lgtqupoamp")
                         + ["é", "ß", "中", "文", "💩", "\U0001d11e", " "])
_text = st.text(alphabet=_alpha, max_size=40)
# ill-formed units for every codec: stray continuation, truncated lead,
# UTF-8 surrogate, lone UTF-16 surrogates, out-of-range UTF-32, odd tail
_BAD = [b"\x80", b"\xc3", b"\xe4\xb8", b"\xed\xa0\x80", b"\xff", b"\x00\xd8",
        b"\xdc\x00", b"\x00\x00\x11\x00", b"\x01"]


@st.composite
def _page(draw):
    """(raw html bytes or None for a null row)."""
    if draw(st.integers(0, 9)) == 0:
        return None
    text = draw(_text)
    if draw(st.booleans()):                       # KB-sized row
        text = (text or "<p>x</p>") * (1500 // max(len(text), 1) + 1)
    _, bom, codec = draw(st.sampled_from(_ENCODINGS))
    body = text.encode(codec)
    if draw(st.integers(0, 3)) == 0:              # inject ill-formed units
        at = draw(st.integers(0, len(body)))
        body = body[:at] + draw(st.sampled_from(_BAD)) + body[at:]
    return bom + body


def _bom_name(raw: bytes) -> str:
    for name, bom, _ in _BOMS_BY_PRIORITY:
        if raw.startswith(bom):
            return name
    return "none"


def _batch(pages: list) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(range(len(pages)), type=pa.int64()),
         pa.array(pages, type=pa.large_binary())],
        names=["id", "html"])


def _html_buffers(batch: pa.RecordBatch) -> list:
    return [bytes(b) if b is not None else None
            for b in batch.column("html").buffers()]


def _assert_rows_match_oracles(pages: list, got: dict) -> None:
    for i, raw in enumerate(pages):
        row = {k: v[i] for k, v in got.items()}
        hist = row["cp_hist"]
        assert sum(hist[:7]) == sum(hist[7:]) == row["text_len"], row
        if raw is None:
            assert row == {"id": i, "text": None, "text_bytes": 0,
                           "valid_utf8": False, "n_replacements": 0,
                           "bom": "none", "text_len": 0, "cp_hist": [0] * 11}
            continue
        dec, n_repl = _decode_auto(raw)
        text = golden_extract(dec)
        assert row["text"] == text, (raw, row)
        assert row["text_bytes"] == len(text.encode("utf-8"))
        assert row["n_replacements"] == n_repl
        assert row["valid_utf8"] == (n_repl == 0)
        assert row["bom"] == _bom_name(raw)
        assert row["text_len"] == len(text)
        assert hist == _hist(text)


@settings(max_examples=150, deadline=None)
@given(st.lists(_page(), min_size=1, max_size=12))
def test_fused_stage_matches_sequential_oracles(pages):
    batch = _batch(pages)
    html_before = _html_buffers(batch)
    out = list(transcode_extract_batches(iter([batch]), with_features=True))
    assert len(out) == 1
    got = out[0].to_pydict()
    assert got["id"] == list(range(len(pages)))
    _assert_rows_match_oracles(pages, got)
    # the trusted decoder's premise: every extracted text is well-formed
    data, offsets, _ = binary_to_offsets(out[0].column("text").cast(pa.large_binary()))
    valid, _, _ = utf8_validate(data, offsets)
    assert valid.all()
    # clean rows are views of the html buffer, which must stay untouched
    assert _html_buffers(batch) == html_before


# one row of every kind the slicing must carry across a boundary: every
# BOM with a body, a bare BOM, an ill-formed row per codec, null, empty
_EVERY_KIND = [None, b""] + [
    bom + body
    for _, bom, codec in _ENCODINGS
    for body in (b"", "<p>Grüße &amp; 中文 💩</p>".encode(codec),
                 "<b>x</b>".encode(codec) + _BAD[len(bom) % len(_BAD)])
]


@settings(max_examples=60, deadline=None)
@given(st.lists(_page(), max_size=24), st.sampled_from([64, 1024, 4096]),
       st.sampled_from(_ENCODINGS), st.randoms(use_true_random=False))
def test_fused_stage_slices_match_oracles(pages, slice_bytes, enc, rnd):
    """A batch larger than 1.5 slices comes back as several batches, one
    per row slice, a row larger than the slice alone in its own; their
    concatenation is the whole-batch result, row for row."""
    import ultraviolet_spark.functions.udfs as U

    _, bom, codec = enc
    big = bom + ("<div>big &lt;row&gt; é 中 💩</div>" * (slice_bytes // 8)).encode(codec)
    pages = pages + _EVERY_KIND + [big]
    rnd.shuffle(pages)
    n = len(pages)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(n), type=pa.int64()),
         pa.array(pages, type=pa.large_binary()),
         pa.array([None if i % 5 == 0 else f"u{i}" for i in range(n)])],
        names=["id", "html", "url"])
    html_before = _html_buffers(batch)
    old = U.STAGE_SLICE
    try:
        U.STAGE_SLICE = slice_bytes
        out = list(transcode_extract_batches(iter([batch]), with_features=True))
        U.STAGE_SLICE = 1 << 40
        (whole,) = transcode_extract_batches(iter([batch]), with_features=True)
    finally:
        U.STAGE_SLICE = old
    assert len(out) > 1
    assert [b.num_rows for b in out if pages.index(big) in b.column("id").to_pylist()] == [1]
    got = pa.Table.from_batches(out)
    assert got.equals(pa.Table.from_batches([whole]))
    got = got.to_pydict()
    assert got["id"] == list(range(n))
    assert got["url"] == batch.column("url").to_pylist()
    _assert_rows_match_oracles(pages, {k: v for k, v in got.items() if k != "url"})
    assert _html_buffers(batch) == html_before


def test_fused_stage_peak_allocation_within_input_bytes():
    """~2,000 × 10 KB rows of mixed-BOM html (every encoding, 1 in 20
    ill-formed), outputs consumed one at a time: the stage's peak
    allocation is at most the batch's html bytes.  A whole-batch pass
    peaked at 4.8×."""
    para = '<p class="t">Grüße &amp; 中文 text 💩 words</p>\n<script>x=1</script>'
    pages = []
    for i in range(2000):
        _, bom, codec = _ENCODINGS[i % len(_ENCODINGS)]
        unit = para.encode(codec)
        body = unit * (10_000 // len(unit))
        if i % 20 == 0:
            body = body[:100] + _BAD[i % len(_BAD)] + body[100:]
        pages.append(bom + body)
    batch = _batch(pages)
    html_bytes = sum(len(p) for p in pages)
    # build the lazily cached lookup tables outside the measurement
    list(transcode_extract_batches(iter([_batch(pages[:len(_ENCODINGS)])]),
                                   with_features=True))
    rows = 0
    tracemalloc.start()
    try:
        for out in transcode_extract_batches(iter([batch]), with_features=True):
            rows += out.num_rows
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert rows == len(pages)
    assert peak <= html_bytes, peak / html_bytes


@settings(max_examples=100, deadline=None)
@given(st.lists(st.one_of(st.none(), st.binary(max_size=8)), max_size=12), st.data())
def test_binary_to_offsets_slice_equals_compact_copy(rows, data):
    """A sliced array is read in place, as its compact copy would be."""
    lo = data.draw(st.integers(0, len(rows)))
    length = data.draw(st.integers(0, len(rows) - lo))
    for typ, vals in ((pa.binary(), rows), (pa.large_binary(), rows),
                      (pa.string(), [r if r is None else r.hex() for r in rows])):
        arr = pa.array(vals, type=typ)
        sl = arr.slice(lo, length)
        got = binary_to_offsets(sl)
        for g, w in zip(got, binary_to_offsets(pa.concat_arrays([sl]))):
            np.testing.assert_array_equal(g, w)
        if len(got[0]):
            assert np.shares_memory(got[0], np.frombuffer(arr.buffers()[2], np.uint8))


@settings(max_examples=200, deadline=None)
@given(st.lists(_page(), min_size=0, max_size=10))
def test_decode_to_utf8_matches_decode_auto_oracle(pages):
    raws = [p or b"" for p in pages]
    data, offsets = rows_from_list(raws)
    u8, u8o, n_repl, _ = decode_to_utf8(data, offsets)
    want = [_decode_auto(r) for r in raws]
    assert [r.decode("utf-8") for r in list_from_rows(u8, u8o)] == [w[0] for w in want]
    assert n_repl.tolist() == [w[1] for w in want]
    cp, cpo, n_repl2, _ = decode_auto(data, offsets)
    assert [cp[cpo[i]:cpo[i + 1]].tolist() for i in range(len(raws))] == [
        [ord(c) for c in w[0]] for w in want]
    assert n_repl2.tolist() == n_repl.tolist()


def test_decode_to_utf8_clean_batch_is_the_input_buffer():
    """No BOM and no ill-formed row: the input comes back uncopied,
    non-ASCII included; one BOM or one error forces a fresh buffer."""
    rows = ["plain".encode(), "héllo 中文 💩".encode(), b""]
    data, offsets = rows_from_list(rows)
    u8, u8o, n_repl, _ = decode_to_utf8(data, offsets)
    assert np.shares_memory(u8, data) and not n_repl.any()
    assert list_from_rows(u8, u8o) == rows
    for extra in (b"\xef\xbb\xbfbom", b"bad \xff"):
        data, offsets = rows_from_list(rows + [extra])
        u8, _, _, _ = decode_to_utf8(data, offsets)
        assert not np.shares_memory(u8, data)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(max_size=48), min_size=1, max_size=16))
def test_trusted_decoder_equals_validating_decoder(rows):
    data, offsets = rows_from_list([r.encode("utf-8") for r in rows])
    cp, cpo = utf8_to_codepoints_trusted(data, offsets)
    cp2, cpo2 = utf8_to_codepoints(data, offsets)
    np.testing.assert_array_equal(cp, cp2)
    np.testing.assert_array_equal(cpo, cpo2)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=300), min_size=1, max_size=24))
def test_utf8_class_histogram_row_aligned_slices(rows):
    """Slicing is invisible: a tiny slice size (every row alone, rows
    longer than a slice) gives the whole-batch histogram."""
    import ultraviolet_spark.kernels.classify as C

    data, offsets = rows_from_list([r.encode("utf-8") for r in rows])
    cp, cpo = utf8_to_codepoints(data, offsets)
    want = codepoint_class_histogram(cp, cpo)
    old = C._U8_CHUNK
    try:
        for chunk in (old, 64):
            C._U8_CHUNK = chunk
            text_len, hist = utf8_class_histogram(data, offsets)
            np.testing.assert_array_equal(hist, want)
            np.testing.assert_array_equal(text_len, np.diff(cpo))
    finally:
        C._U8_CHUNK = old


@settings(max_examples=200, deadline=None)
@given(st.lists(st.binary(max_size=64), min_size=1, max_size=24))
def test_utf8_repl_counts_equal_validate_across_chunks(rows):
    """Chunked U+FFFD counting agrees with utf8_validate, including
    ill-formed spans that straddle a chunk boundary (4-byte halo)."""
    import ultraviolet_spark.kernels.utf8 as U
    from ultraviolet_spark.kernels.buffers import gather_rows

    data, offsets = rows_from_list(rows)
    _, _, want = utf8_validate(data, offsets)
    b, row_starts = gather_rows(data, offsets[:-1], np.diff(offsets), sentinel=True)
    old = U._DENSE_CHUNK
    try:
        for chunk in (old, 16):
            U._DENSE_CHUNK = chunk
            np.testing.assert_array_equal(utf8_row_errors(b, row_starts)[0], want)
    finally:
        U._DENSE_CHUNK = old
