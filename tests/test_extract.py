"""HTML extraction: spec cases + hypothesis fuzz of the vectorized
kernel against the independent sequential oracle (FIXTURES.md §3)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fixtures.make_golden import golden_extract
from ultraviolet_spark.kernels.buffers import list_from_rows, rows_from_list
from ultraviolet_spark.kernels.extract import extract_text

CASES = [
    ("plain", "hello world", "hello world"),
    ("simple_tag", "<b>bold</b> text", "bold text"),
    ("script_block", "a<script>x()</script>b", "ab"),
    ("style_block", "a<style>p{}</style>b", "ab"),
    ("script_with_attrs", 'a<script type="x">y</script>b', "ab"),
    ("script_case", "a<SCRIPT>x</SCRIPT>b", "ab"),
    ("unclosed_script", "a<script>rest is gone", "a"),
    ("unclosed_tag", "a<b c", "a"),
    ("bare_gt", "a > b", "a > b"),
    ("entity_amp", "a &amp; b", "a & b"),
    ("entity_all_named", "&lt;&gt;&quot;&apos;&amp;", "<>\"'&"),
    ("entity_decimal", "&#65;&#8364;", "A€"),
    ("entity_hex", "&#x41;&#x20AC;", "A€"),
    ("entity_bad", "&foo; &unknown; &;", "&foo; &unknown; &;"),
    ("entity_too_long", "&#x10FFFF0;", "&#x10FFFF0;"),
    ("entity_max", "&#x10FFFF;", "\U0010ffff"),
    ("entity_surrogate", "&#xD800;", "&#xD800;"),
    ("entity_across_tag", "&am<b>p;", "&amp;".replace("amp", "amp")),  # "&amp;" → "&"
    ("ws_collapse", "a  \t\n  b", "a b"),
    ("ws_strip", "  a b  ", "a b"),
    ("ws_entity", "a&#32;&#32;b", "a b"),
    ("all_ws", " \t\r\n ", ""),
    ("empty", "", ""),
    ("full_page",
     "<html><head><title>T</title><style>s{}</style></head>"
     "<body><p>Hello &amp; welcome</p><script>x()</script></body></html>",
     "THello & welcome"),
    ("nested_tags", "<div><p>a</p> <p>b</p></div>", "a b"),
    ("unicode", "<p>héllo 💩</p>", "héllo 💩"),
    ("tag_inside_script", "a<script><b>not text</b></script>z", "az"),
]


@pytest.mark.parametrize("case_id,html,want", CASES, ids=[c[0] for c in CASES])
def test_spec_cases(case_id, html, want):
    if case_id == "entity_across_tag":
        want = "&"
    data, offsets = rows_from_list([html.encode("utf-8")])
    out, oo = extract_text(data, offsets)
    got = list_from_rows(out, oo)[0].decode("utf-8")
    assert got == want, f"{case_id}: {got!r} != {want!r}"
    # the sequential oracle must agree with the spec table too
    assert golden_extract(html) == want, f"golden {case_id}"


# fuzz alphabet dense in the interesting markers
_alpha = st.sampled_from(list("<>&;#/ab \t\n\rxX0129scriptSTYLE=\"'é💩lgtqupoamp"))
_html = st.text(alphabet=_alpha, max_size=80)


@settings(max_examples=500, deadline=None)
@given(st.lists(_html, min_size=1, max_size=8))
def test_fuzz_vectorized_equals_sequential(rows):
    data, offsets = rows_from_list([r.encode("utf-8") for r in rows])
    out, oo = extract_text(data, offsets)
    got = [r.decode("utf-8") for r in list_from_rows(out, oo)]
    want = [golden_extract(r) for r in rows]
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=120))
def test_fuzz_arbitrary_text(s):
    data, offsets = rows_from_list([s.encode("utf-8")])
    out, oo = extract_text(data, offsets)
    got = list_from_rows(out, oo)[0].decode("utf-8")
    assert got == golden_extract(s)


def test_batch_isolation():
    rows = ["<script>a", "plain", "<b>c</b>", ""]
    data, offsets = rows_from_list([r.encode() for r in rows])
    out, oo = extract_text(data, offsets)
    got = [r.decode() for r in list_from_rows(out, oo)]
    assert got == ["", "plain", "c", ""]


def test_row_split_mixed_entity_batch_equals_sequential():
    """The entity-presence row split must be invisible: a batch mixing
    entity-free and entity rows produces exactly the per-row sequential
    golden output (fuzzes the stitch order and the bounded memcpys)."""
    import numpy as np

    from fixtures.make_golden import golden_extract
    from ultraviolet_spark.kernels.buffers import (
        binary_to_offsets,
        list_from_rows,
    )
    import pyarrow as pa

    from ultraviolet_spark.kernels.extract import extract_text

    rng = np.random.default_rng(7)
    rows = []
    for i in range(64):
        body = f"row {i} " + "plain words here " * int(rng.integers(1, 9))
        if i % 3 == 0:
            body += " &amp; entity &#65; tail"
        if i % 7 == 0:
            body = f"<p>{body}</p><script>drop()</script>"
        if i % 11 == 0:
            body = ""  # empty rows interleaved
        rows.append(body.encode())
    arr = pa.array(rows, type=pa.large_binary())
    data, offsets, _ = binary_to_offsets(arr)
    out, oo = extract_text(data, offsets)
    got = [r.decode() for r in list_from_rows(out, oo)]
    want = [golden_extract(r.decode()) for r in rows]
    assert got == want


def test_entity_dense_throughput_regression():
    """Perf regression floor for the pathological entity-dense case
    (VERDICT r2 item 3: target ≥25 MB/s on a 100%-entity batch; round-3
    measured ~25 MB/s ascii-dense, ~21 MB/s mixed wide+ascii, vs ~9 MB/s
    at round-2 end).  The host drifts between a fast and a slow mode
    (~1.4×), so the hard assert is the drift-robust RATIO to the plain
    path measured in the same process, plus a loose absolute floor."""
    import os
    import time

    import numpy as np

    # the kernels assume the engine's malloc env (session.py sets it for
    # Spark workers); a bare pytest process needs it too or page faults
    # dominate and the measurement is meaningless
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    from ultraviolet_spark.kernels.extract import extract_text

    def mkbatch(unit: bytes):
        row = (unit * (10240 // len(unit) + 1))[:10240]
        data = np.frombuffer(row * 200, dtype=np.uint8)
        off = np.zeros(201, dtype=np.int64)
        off[1:] = np.cumsum([len(row)] * 200)
        return data, off

    def mbps(unit: bytes, reps: int = 5) -> float:
        data, off = mkbatch(unit)
        extract_text(data, off)  # warm
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            extract_text(data, off)
            best = min(best, time.perf_counter() - t0)
        return len(data) / 1e6 / best

    plain = mbps(b"plain words here with some spaces and text ")
    mixed = mbps(b"&amp; &#65;&#x20AC; text &lt;tag&gt; ")  # ascii+wide
    ascii_dense = mbps(b"&amp;&lt;&gt;&quot;&apos;&#65;")   # 100% ascii ents

    # after the span-compaction rewrite the plain path is ~2.1× faster
    # (~220 MB/s quiet-host) while entity paths gained ~1.1× (~33/~42
    # MB/s), so the drift-robust ratios dropped to ~0.15 / 0.19 —
    # floors set with headroom for load/cache contention
    assert mixed >= 0.10 * plain, (mixed, plain)
    assert ascii_dense >= 0.13 * plain, (ascii_dense, plain)
    # absolute floors only on a quiet host — under a loaded full-suite
    # run (other tests' Spark sessions) wall-clock throughput halves
    # while the ratios above stay meaningful
    if os.getloadavg()[0] < 4.0:
        assert mixed >= 14.0, mixed      # loose absolute floor (slow mode)
        assert ascii_dense >= 18.0, ascii_dense
        assert plain >= 60.0, plain


# filler rows dense in touching tags ('<a><b>' is two spans that touch)
# and tags that end exactly at a row boundary, to push a batch past the
# slice-stitch limit of max(4096, total >> 9) removed spans
_DENSE_FILLER = ["<a><b>x" * 60 + "<i>", "<p>" + "t<a><b>" * 70,
                 "<u>y<b c", "&amp;<a><b>&#x20AC;" * 40 + "<br>"] * 12


def _assert_dense_extract(rows):
    from ultraviolet_spark.kernels.extract import _strip_tags

    data, offsets = rows_from_list([r.encode("utf-8") for r in rows])
    rem_s, _ = _strip_tags(data, offsets)
    assert len(rem_s) + 1 > max(4096, int(offsets[-1]) >> 9)  # dense branch
    out, oo = extract_text(data, offsets)
    got = [r.decode("utf-8") for r in list_from_rows(out, oo)]
    assert got == [golden_extract(r) for r in rows]


def test_dense_keep_mask_fallback_equals_sequential():
    """Tag-dense batches take the dense keep-mask fallback of
    extract_text, whose delta scatter must cancel at touching spans
    and at spans ending on a row boundary."""
    _assert_dense_extract(_DENSE_FILLER + ["", "<", "a<b>", "<script>x</script>z",
                                           "é<a>中<b>💩"])


@settings(max_examples=60, deadline=None)
@given(st.lists(_html, min_size=1, max_size=8))
def test_fuzz_dense_keep_mask_fallback(rows):
    _assert_dense_extract(rows + _DENSE_FILLER)
