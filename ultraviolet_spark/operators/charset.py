"""HTML5 encoding sniffing + legacy-charset decode (SURVEY.md §2.1).

Real crawled pages are NOT all UTF-8: the HTML5 spec's "determine the
character encoding" algorithm is BOM → `<meta charset>` prescan of the
first 1024 bytes → a locale default (windows-1252 almost everywhere).
This module implements that sniff as a PURE CATALYST expression — the
prescan is `decode(substring(html, 1, 1024), 'ISO-8859-1')` (every byte
maps, so the regexp sees the raw bytes faithfully) + one
`regexp_extract` + one literal-map lookup, all inside whole-stage
codegen, zero Python — and the per-row-charset decode as ONE pandas UDF
that groups the batch by charset and runs each group through the
existing vectorized kernels (utf8/utf16/utf32 state machines,
kernels/sbcs LUT gather).  No per-row Python anywhere.

Deliberate simplifications vs the full WHATWG prescan, mirrored exactly
by the q114 oracle and documented here:

* the meta scan is a single case-insensitive regexp
  ``<meta[^>]*charset\\s*=\\s*["']?([label])`` — it does not skip
  ``<!-- -->`` comments or unquoted-attribute corner cases;
* label table is the WHATWG subset we have kernels for (utf-8 family,
  windows-1252 incl. the iso-8859-1/ascii/latin1 aliases, windows-1251,
  iso-8859-2) plus the two spec-mandated rewrites: a meta-declared
  utf-16 label means utf-8, and x-user-defined means windows-1252;
* unknown labels fall through to the default, exactly like no label.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ultraviolet_spark.kernels import sbcs
from ultraviolet_spark.kernels.buffers import (
    binary_to_offsets,
    copy_rows,
    gather_rows,
    offsets_to_pyarrow_string,
)
from ultraviolet_spark.kernels.encode import codepoints_to_utf8

_I64 = np.int64

DEFAULT_CHARSET = "windows-1252"

# WHATWG Encoding Standard label → canonical name, restricted to the
# encodings this engine has kernels for.  utf-16 labels canonicalize to
# utf-8 (HTML5 "change the encoding" rule: a meta tag cannot introduce
# utf-16 — if the page really were utf-16 the meta bytes would not be
# ASCII-visible); x-user-defined → windows-1252 (prescan step 5).
LABELS: dict[str, str] = {
    "unicode-1-1-utf-8": "utf-8", "unicode11utf8": "utf-8",
    "unicode20utf8": "utf-8", "utf-8": "utf-8", "utf8": "utf-8",
    "x-unicode20utf8": "utf-8",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
    "ucs-2": "utf-8", "unicode": "utf-8",
    "x-user-defined": "windows-1252",
    "ansi_x3.4-1968": "windows-1252", "ascii": "windows-1252",
    "cp1252": "windows-1252", "cp819": "windows-1252",
    "csisolatin1": "windows-1252", "ibm819": "windows-1252",
    "iso-8859-1": "windows-1252", "iso-ir-100": "windows-1252",
    "iso8859-1": "windows-1252", "iso88591": "windows-1252",
    "iso_8859-1": "windows-1252", "iso_8859-1:1987": "windows-1252",
    "l1": "windows-1252", "latin1": "windows-1252",
    "us-ascii": "windows-1252", "windows-1252": "windows-1252",
    "x-cp1252": "windows-1252",
    "cp1251": "windows-1251", "windows-1251": "windows-1251",
    "x-cp1251": "windows-1251",
    "csisolatin2": "iso-8859-2", "iso-8859-2": "iso-8859-2",
    "iso-ir-101": "iso-8859-2", "iso8859-2": "iso-8859-2",
    "iso88592": "iso-8859-2", "iso_8859-2": "iso-8859-2",
    "iso_8859-2:1987": "iso-8859-2", "l2": "iso-8859-2",
    "latin2": "iso-8859-2",
}

_META_RE = "<meta[^>]*charset\\s*=\\s*[\"']?([a-z0-9_.:\\-]+)"


def _bom_charset(html: Column) -> Column:
    """BOM → charset name ('' when none).  UTF-32 BOMs are checked
    before the UTF-16 ones they prefix (FF FE 00 00 starts with FF FE),
    same order as kernels/transcode.detect_bom."""
    p2 = F.substring(html, 1, 2)
    p3 = F.substring(html, 1, 3)
    p4 = F.substring(html, 1, 4)
    return (
        F.when(p4 == F.unhex(F.lit("FFFE0000")), F.lit("utf-32le"))
        .when(p4 == F.unhex(F.lit("0000FEFF")), F.lit("utf-32be"))
        .when(p3 == F.unhex(F.lit("EFBBBF")), F.lit("utf-8"))
        .when(p2 == F.unhex(F.lit("FFFE")), F.lit("utf-16le"))
        .when(p2 == F.unhex(F.lit("FEFF")), F.lit("utf-16be"))
        .otherwise(F.lit(""))
    )


def _meta_charset(html: Column, prescan_bytes: int = 1024) -> Column:
    """Canonical charset from the meta prescan ('' when absent or the
    label is unknown).  One decode + one regexp + one map lookup."""
    prefix = F.lower(F.decode(F.substring(html, 1, prescan_bytes),
                              "ISO-8859-1"))
    label = F.regexp_extract(prefix, _META_RE, 1)
    pairs: list[Column] = []
    for k, v in LABELS.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    lut = F.create_map(*pairs)
    return F.coalesce(lut[label], F.lit(""))


def charset_expr(html: Column, prescan_bytes: int = 1024) -> Column:
    """struct(charset, charset_source) per the HTML5 sniffing order:
    BOM wins, then the meta prescan, then windows-1252."""
    bom = _bom_charset(html)
    meta = _meta_charset(html, prescan_bytes)
    charset = (F.when(bom != "", bom)
               .when(meta != "", meta)
               .otherwise(F.lit(DEFAULT_CHARSET)))
    source = (F.when(bom != "", F.lit("bom"))
              .when(meta != "", F.lit("meta"))
              .otherwise(F.lit("default")))
    return F.struct(charset.alias("charset"),
                    source.alias("charset_source"))


def with_charset(df: DataFrame, html_col: str = "html",
                 prescan_bytes: int = 1024) -> DataFrame:
    """Append sniffed `charset` + `charset_source` columns (pure
    Catalyst — survives whole-stage codegen, no shuffle, no Python)."""
    s = charset_expr(F.col(html_col), prescan_bytes)
    return (df.withColumn("_cs", s)
            .withColumn("charset", F.col("_cs.charset"))
            .withColumn("charset_source", F.col("_cs.charset_source"))
            .drop("_cs"))


# ---------------------------------------------------------------------------
# decode — one pandas UDF, batch grouped by charset, kernels do the work
# ---------------------------------------------------------------------------

_BOM_OF = {
    "utf-8": b"\xef\xbb\xbf",
    "utf-16le": b"\xff\xfe", "utf-16be": b"\xfe\xff",
    "utf-32le": b"\xff\xfe\x00\x00", "utf-32be": b"\x00\x00\xfe\xff",
}


def _decode_group(data: np.ndarray, offsets: np.ndarray, charset: str):
    """(codepoints, cp_offsets) for one charset group, BOM stripped
    (HTML5: a leading BOM in the sniffed encoding is not content)."""
    bom = _BOM_OF.get(charset)
    if bom is not None and len(offsets) > 1:
        n = len(offsets) - 1
        starts = offsets[:-1]
        lens = np.diff(offsets)
        k = len(bom)
        has = lens >= k
        if has.any():
            pref = np.zeros(n, dtype=bool)
            pref[has] = True
            for j, b in enumerate(bom):
                chk = np.zeros(n, dtype=bool)
                chk[has] = data[starts[has] + j] == b
                pref &= chk
            if pref.any():
                cut = np.where(pref, k, 0)
                data, offsets = gather_rows(data, starts + cut, lens - cut)
    if charset == "utf-8":
        from ultraviolet_spark.kernels.utf8 import utf8_to_codepoints_with_repl
        cp, cpo, _ = utf8_to_codepoints_with_repl(data, offsets)
        return cp, cpo
    if charset in ("utf-16le", "utf-16be"):
        from ultraviolet_spark.kernels.utf16 import utf16_to_codepoints
        cp, cpo, _ = utf16_to_codepoints(data, offsets,
                                         big_endian=charset.endswith("be"))
        return cp, cpo
    if charset in ("utf-32le", "utf-32be"):
        from ultraviolet_spark.kernels.utf32 import utf32_to_codepoints
        cp, cpo, _ = utf32_to_codepoints(data, offsets,
                                         big_endian=charset.endswith("be"))
        return cp, cpo
    cp, cpo = sbcs.sbcs_to_codepoints(data, offsets, charset)
    return cp.astype(np.uint32, copy=False), cpo


@pandas_udf(T.StringType())
def decode_with_charset_udf(html: pd.Series, charset: pd.Series) -> pd.Series:
    """(html binary, sniffed charset) → text.  Groups the batch by
    charset value (a handful of groups, never per-row), decodes each
    group with the matching vectorized kernel, scatters the codepoint
    runs back to original row order, and UTF-8-encodes once."""
    arr = pa.array(html, type=pa.large_binary())
    data, offsets, nulls = binary_to_offsets(arr)
    n = len(offsets) - 1
    cs = charset.fillna(DEFAULT_CHARSET).to_numpy(dtype=object)

    row_counts = np.zeros(n, dtype=_I64)
    parts: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    for value in pd.unique(cs):
        rows = np.flatnonzero(cs == value)
        sub, sub_off = gather_rows(data, offsets[:-1][rows],
                                   np.diff(offsets)[rows])
        cp, cpo = _decode_group(sub, sub_off, str(value))
        row_counts[rows] = np.diff(cpo)
        parts.append((rows, cp, cpo))

    out_off = np.zeros(n + 1, dtype=_I64)
    np.cumsum(row_counts, out=out_off[1:])
    out_cp = np.empty(int(out_off[-1]), dtype=np.uint32)
    for rows, cp, cpo in parts:
        copy_rows(out_cp, out_off[:-1][rows], cp, cpo[:-1], np.diff(cpo))
    u8, u8o = codepoints_to_utf8(out_cp, out_off)
    return offsets_to_pyarrow_string(u8, u8o, nulls).to_pandas()


# ---------------------------------------------------------------------------
# mojibake (double-encoded UTF-8) detection + repair — the ftfy core rule
# ---------------------------------------------------------------------------

MOJIBAKE_SCHEMA = T.StructType([
    T.StructField("text_fixed", T.StringType()),
    T.StructField("was_mojibake", T.BooleanType()),
])


@pandas_udf(MOJIBAKE_SCHEMA)
def repair_mojibake_udf(text: pd.Series) -> pd.DataFrame:
    """Detect and undo UTF-8-read-as-windows-1252 double encoding
    ('cafÃ©' → 'café', 'â€œ' → '“', 'Ð´Ð°' → 'да').

    Rule (ftfy's core heuristic, single pass): reverse-map every
    codepoint through the cp1252 table; if the whole row maps AND the
    resulting bytes are valid UTF-8 AND the row had a non-ASCII
    codepoint (so the decode actually shortens it), the row was double
    encoded — replace it with the re-decoded text.  Genuine text like
    'café' survives: its reverse bytes (E9 20 …) are NOT valid UTF-8.
    All steps are whole-batch numpy (reverse LUT gather + the utf8
    state machine); the only per-row work is bounded slice memcpy."""
    from ultraviolet_spark.kernels.utf8 import utf8_to_codepoints, utf8_validate

    arr = pa.array(text, type=pa.large_string())
    data, offsets, nulls = binary_to_offsets(arr.cast(pa.large_binary()))
    n = len(offsets) - 1
    cp, cpo = utf8_to_codepoints(data, offsets)
    b, ok = codepoints_to_sbcs_batch(cp, cpo)
    counts = np.diff(cpo)

    if len(cp):
        hi = np.zeros(len(cp) + 1, dtype=_I64)
        np.cumsum(cp >= 0x80, out=hi[1:])
        has_hi = (hi[cpo[1:]] - hi[cpo[:-1]]) > 0
    else:
        has_hi = np.zeros(n, dtype=bool)
    cand = ok & has_hi & ~nulls

    repaired = np.zeros(n, dtype=bool)
    rows = np.flatnonzero(cand)
    if len(rows):
        # candidate rows are 1 byte per cp, so their byte runs in `b`
        # are exactly the cpo segments — gather them compactly
        valid, _, _ = utf8_validate(*gather_rows(b, cpo[:-1][rows], counts[rows]))
        repaired[rows[valid]] = True

    out_lens = np.where(repaired, counts, np.diff(offsets))
    out_off = np.zeros(n + 1, dtype=_I64)
    np.cumsum(out_lens, out=out_off[1:])
    out = np.empty(int(out_off[-1]), dtype=np.uint8)
    fixed, kept = np.flatnonzero(repaired), np.flatnonzero(~repaired)
    copy_rows(out, out_off[fixed], b, cpo[fixed], counts[fixed])
    copy_rows(out, out_off[kept], data, offsets[kept], out_lens[kept])

    return pd.DataFrame({
        "text_fixed": offsets_to_pyarrow_string(out, out_off, nulls)
        .to_pandas(),
        "was_mojibake": pd.Series(np.where(nulls, None, repaired),
                                  dtype=object),
    })


def codepoints_to_sbcs_batch(cp: np.ndarray, cpo: np.ndarray):
    return sbcs.codepoints_to_sbcs(cp, cpo, "windows-1252")


def repair_mojibake(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append `text_fixed` + `was_mojibake` columns."""
    s = repair_mojibake_udf(F.col(text_col))
    return (df.withColumn("_mj", s)
            .withColumn("text_fixed", F.col("_mj.text_fixed"))
            .withColumn("was_mojibake", F.col("_mj.was_mojibake"))
            .drop("_mj"))


def decode_html(df: DataFrame, html_col: str = "html",
                prescan_bytes: int = 1024,
                out_col: str = "text_raw") -> DataFrame:
    """Sniff + decode in one shot: adds charset, charset_source and the
    decoded text column.  The sniff stays JVM-side; only the decode
    crosses to Python (Arrow-batched, kernel-vectorized)."""
    out = with_charset(df, html_col, prescan_bytes)
    return out.withColumn(
        out_col, decode_with_charset_udf(F.col(html_col), F.col("charset")))
