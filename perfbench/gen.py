"""Seeded pages-table generator owned by the benchmark.

The benchmark never calls the program's own page synthesizers
(``sources/pages_gen.py``, ``sources/pages_from_docs.py``), so an edit
to the program cannot change what the benchmark feeds it.  The text is
derived from the sf0.1 ``documents.parquet`` of the test data: its
31-word vocabulary, its 10–100 words per document and its language mix
are frozen below, so the benchmark needs nothing outside its own
directory.

Every table has the pages schema (url, warc_ts, html, lang), is unique
on (url, warc_ts) and is written as ``N_FILES`` parquet files whatever
the core count, so the scan splits the same way on every host.
"""

from __future__ import annotations

import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
WORDS_PER_DOC = (10, 100)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = np.array([2059, 753, 744, 742, 702]) / 5000

N_FILES = 8
EPOCH_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z
GAP_SECS = (600, 172_800)                 # 10 min .. 48 h between crawls

SMALL_TEMPLATE = ("<html><head><title>doc</title></head><body><p>", "</p></body></html>")

# Multilingual tokens for the large pages: Latin-1 and BMP scripts plus
# astral characters (emoji, math letters, CJK extension B), so every
# UTF-8 sequence length and UTF-16 surrogate pairs occur.
NON_ASCII = (
    "données", "Straße", "niño", "façade", "中文", "网页", "日本語",
    "テキスト", "русский", "текст", "العربية", "हिन्दी", "ελληνικά",
    "한국어", "😀", "🚀", "𝔘𝔳", "𠜎𠜱",
)
ENTITIES = (
    "&amp;", "&lt;", "&gt;", "&quot;", "&apos;", "&#169;", "&#x1F600;",
    "&#233;", "&nbsp;", "&copy;", "&#xD800;", "&#12345678;",
)

BOMS = {
    "utf-8": b"", "utf-8-bom": b"\xef\xbb\xbf", "utf-16-le": b"\xff\xfe",
    "utf-16-be": b"\xfe\xff", "utf-32-le": b"\xff\xfe\x00\x00",
}
CODECS = {"utf-8": "utf-8", "utf-8-bom": "utf-8", "utf-16-le": "utf-16-le",
          "utf-16-be": "utf-16-be", "utf-32-le": "utf-32-le"}
# Ill-formed code units per encoding; each one decodes to U+FFFD.
BAD_BYTES = {
    "utf-8": (b"\xff", b"\xc3\x28", b"\xed\xa0\x80", b"\xf0\x9f\x98", b"\x80"),
    "utf-16-le": (b"\x00\xdc",),
    "utf-16-be": (b"\xdc\x00",),
    "utf-32-le": (b"\x00\x00\x11\x00",),
}
LARGE_ENCODINGS = ("utf-8", "utf-8-bom", "utf-16-le", "utf-16-be", "utf-32-le")
LARGE_ENCODING_P = (0.80, 0.05, 0.05, 0.05, 0.05)
ILL_FORMED_P = 0.05
HOT_SHARE = 0.01                          # rows of the hottest url, small shape


SHAPES = ("small", "large")


def _zipf_counts(rng: np.random.Generator, n: int):
    """Crawls per url, heavy tailed: rank r gets hot/r crawls until that
    falls below 4, then the tail gets 1-3 each.  The hottest url holds
    ``HOT_SHARE`` of the rows."""
    hot = max(int(n * HOT_SHARE), 1)
    head = [hot // r for r in range(1, hot + 1) if hot // r >= 4]
    counts = list(head)
    total = sum(counts)
    tail = rng.integers(1, 4, size=n)
    i = 0
    while total < n:
        c = int(min(tail[i], n - total))
        counts.append(c)
        total += c
        i += 1
    return np.array(counts, dtype=np.int64)


def _uniform_counts(rng: np.random.Generator, n: int):
    draws = rng.integers(1, 4, size=n)
    csum = np.cumsum(draws)
    k = int(np.searchsorted(csum, n))
    counts = draws[: k + 1].copy()
    counts[-1] -= int(csum[k] - n)
    return counts


def _timestamps(rng: np.random.Generator, counts: np.ndarray) -> np.ndarray:
    """Strictly increasing crawl times per url (µs since the epoch), so
    (url, warc_ts) is unique."""
    n = int(counts.sum())
    url_of = np.repeat(np.arange(len(counts)), counts)
    first = np.zeros(n, dtype=bool)
    first[np.concatenate(([0], np.cumsum(counts)[:-1]))] = True
    gaps = rng.integers(GAP_SECS[0], GAP_SECS[1] + 1, size=n)
    gaps[first] = rng.integers(0, 30 * 86_400, size=len(counts))
    csum = np.cumsum(gaps)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    base = np.repeat(csum[starts] - gaps[starts], counts)
    secs = csum - base
    return EPOCH_US + secs * 1_000_000, url_of


def _langs(rng: np.random.Generator, url_of: np.ndarray, n_urls: int):
    """Each url has a home language; 15% of crawls show another one."""
    home = rng.choice(len(LANGS), size=n_urls, p=LANG_WEIGHTS)
    lang = home[url_of]
    flip = rng.random(len(url_of)) < 0.15
    lang[flip] = rng.choice(len(LANGS), size=int(flip.sum()), p=LANG_WEIGHTS)
    return np.array(LANGS, dtype=object)[lang]


def _doc_text(rng: np.random.Generator) -> str:
    k = int(rng.integers(WORDS_PER_DOC[0], WORDS_PER_DOC[1] + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=k))


def _small_html(rng: np.random.Generator, n: int):
    """~600 B pages: the documents' ASCII text in the flagship template,
    rotating UTF-8 / UTF-16LE+BOM / UTF-16BE+BOM by row."""
    words = np.array(VOCAB, dtype=object)
    lens = rng.integers(WORDS_PER_DOC[0], WORDS_PER_DOC[1] + 1, size=n)
    ids = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    flat = words[ids]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    encs = ("utf-8", "utf-16-le", "utf-16-be")
    blobs, enc_names = [], []
    head, tail = SMALL_TEMPLATE
    for i in range(n):
        s = head + " ".join(flat[bounds[i]:bounds[i + 1]]) + tail
        enc = encs[i % 3]
        blobs.append(BOMS[enc] + s.encode(CODECS[enc]))
        enc_names.append(enc)
    return blobs, enc_names, np.zeros(n, dtype=bool), np.zeros(n, dtype=bool)


def _fragment(rng: np.random.Generator, non_ascii: bool) -> str:
    """One html fragment: a paragraph, a link list, a script or a style
    block.  Script and style bodies hold '<', '>' and quotes, so the
    extractor's block stripping is exercised."""
    kind = int(rng.integers(0, 6))

    def words(k):
        out = []
        for _ in range(k):
            r = rng.random()
            if non_ascii and r < 0.25:
                out.append(NON_ASCII[int(rng.integers(0, len(NON_ASCII)))])
            elif r < 0.32:
                out.append(ENTITIES[int(rng.integers(0, len(ENTITIES)))])
            else:
                out.append(VOCAB[int(rng.integers(0, len(VOCAB)))])
        return " ".join(out)

    if kind == 0:
        body = words(int(rng.integers(8, 40)))
        return (f"<script type=\"text/javascript\">var s = \"<div>{body}</div>\";"
                f" if (a < b && c > d) {{ f('&amp;'); }}</script>\n")
    if kind == 1:
        c = int(rng.integers(0, 1 << 24))
        return (f"<style>p.c{c % 97} {{ color: #{c:06x}; }} /* <b>{words(6)}</b> */"
                f"</style>\n")
    if kind == 2:
        items = "".join(f"<li><a href=\"https://x.example/{VOCAB[int(i)]}\">"
                        f"{words(3)}</a></li>"
                        for i in rng.integers(0, len(VOCAB), size=int(rng.integers(3, 12))))
        return f"<ul class=\"nav\">{items}</ul>\n"
    return (f"<p class=\"c{int(rng.integers(0, 50))}\">{words(int(rng.integers(20, 200)))}"
            f"</p>\n\t\n")


def _file_bounds(n: int) -> np.ndarray:
    return np.linspace(0, n, N_FILES + 1).astype(int)


def _stratified_sizes(rng: np.random.Generator, n: int) -> np.ndarray:
    """Target page sizes: the same lognormal sample (mean ~10 KB, a tail
    past 32 KB) for every seed, dealt out in size order to the files in
    turn, so every file gets the same mix of sizes; the seed only
    shuffles the sizes within a file."""
    sizes = np.sort(np.clip(np.random.default_rng(0).lognormal(np.log(5_100), 0.8, size=n),
                            400, 160_000))
    bounds = _file_bounds(n)
    file_of = np.repeat(np.arange(N_FILES), np.diff(bounds))
    rank = np.arange(n) - bounds[file_of]
    out = np.empty(n)
    out[np.lexsort((file_of, rank))] = sizes
    for lo, hi in zip(bounds, bounds[1:]):
        out[lo:hi] = rng.permutation(out[lo:hi])
    return out


def _large_html(rng: np.random.Generator, n: int):
    """~10 KB mixed pages: lognormal sizes, five encodings, 5% of rows
    with ill-formed code units, 30% of rows ASCII-only."""
    pools = {False: [_fragment(rng, False) for _ in range(512)],
             True: [_fragment(rng, True) for _ in range(512)]}
    pool_lens = {k: np.array([len(f) for f in v]) for k, v in pools.items()}
    targets = _stratified_sizes(rng, n)
    has_non_ascii = rng.random(n) >= 0.30
    enc_idx = rng.choice(len(LARGE_ENCODINGS), size=n, p=LARGE_ENCODING_P)
    ill = rng.random(n) < ILL_FORMED_P
    blobs, enc_names, non_ascii = [], [], np.zeros(n, dtype=bool)
    for i in range(n):
        kind = bool(has_non_ascii[i])
        parts, size = [], 0
        while size < targets[i]:
            picks = rng.integers(0, 512, size=32)
            csum = size + np.cumsum(pool_lens[kind][picks])
            take = int(np.searchsorted(csum, targets[i])) + 1
            parts.extend(pools[kind][j] for j in picks[:take])
            size = int(csum[min(take, 32) - 1])
        title = VOCAB[int(rng.integers(0, len(VOCAB)))]
        s = (f"<!DOCTYPE html><html><head><title>{title} &amp; more</title></head>"
             f"<body>\n{''.join(parts)}</body></html>")
        non_ascii[i] = not s.isascii()
        enc = LARGE_ENCODINGS[enc_idx[i]]
        codec = CODECS[enc]
        if ill[i]:
            p = int(rng.integers(1, len(s)))
            bads = BAD_BYTES[codec]
            bad = bads[int(rng.integers(0, len(bads)))]
            body = s[:p].encode(codec) + bad + s[p:].encode(codec)
        else:
            body = s.encode(codec)
        blobs.append(BOMS[enc] + body)
        enc_names.append(enc)
    return blobs, enc_names, non_ascii, ill


def generate(shape: str, seed: int, out_dir: str, pages: int) -> dict:
    """Write ``pages`` pages of ``shape`` ("small" or "large") for
    ``seed`` to ``out_dir`` as ``N_FILES`` parquet files and return the
    table's ``input.*`` properties.  The same (shape, seed, pages) always
    gives the same table."""
    if shape not in SHAPES:
        raise ValueError(f"shape must be one of {SHAPES}, not {shape!r}")
    large = shape == "large"
    n = pages
    rng = np.random.default_rng([seed, int(large)])
    counts = _uniform_counts(rng, n) if large else _zipf_counts(rng, n)
    ts_us, url_of = _timestamps(rng, counts)
    # url names follow the crawl-count rank, so the hot urls (and how
    # the shuffle hashes them over partitions) are the same for every seed
    urls = np.array([f"https://site{u % 997}.example/p/{u}" for u in url_of],
                    dtype=object)
    lang = _langs(rng, url_of, len(counts))
    # rows scattered like a crawl log, not grouped by url
    order = rng.permutation(n)
    urls, ts_us, lang = urls[order], ts_us[order], lang[order]
    blobs, encs, non_ascii, ill = (_large_html if large else _small_html)(rng, n)

    table = pa.table({
        "url": pa.array(urls, type=pa.string()),
        "warc_ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        "html": pa.array(blobs, type=pa.binary()),
        "lang": pa.array(lang, type=pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    bounds = _file_bounds(n)
    for i in range(N_FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
    sizes = np.array([len(b) for b in blobs])
    return {
        "input.pages": n,
        "input.html_bytes": int(sizes.sum()),
        "input.avg_page_bytes": float(sizes.mean()),
        "input.pages_over_32k": int((sizes > 32 * 1024).sum()),
        "input.no_bom_share": sum(e == "utf-8" for e in encs) / n,
        "input.non_ascii_share": float(non_ascii.mean()),
        "input.ill_formed_share": float(ill.mean()),
        "input.max_crawls_per_url": int(counts.max()),
    }
