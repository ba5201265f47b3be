"""Registry chunk: crawl/web operators: URLs, WARC, graph, charset, frontier (q91-q140).

Split from the monolithic queries.py in round 4 (VERDICT r3 #4).
Registration order is preserved by the import sequence in
queries/__init__.py; the shared decorator/registry live in _shared.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ultraviolet_spark.operators import dedup as D  # noqa: F401
from ultraviolet_spark.operators import similarity as S  # noqa: F401
from ultraviolet_spark.operators import textstats as X  # noqa: F401
from ultraviolet_spark.operators.asof import asof_join  # noqa: F401
from ultraviolet_spark.operators.windows import (  # noqa: F401
    dedup_latest,
    sessionize,
    with_ffill,
    with_lags,
    with_leads,
)

from ultraviolet_spark.queries._shared import (  # noqa: F401
    REGISTRY,
    QuerySpec,
    _dec,
    _t,
    q,
)

@q("q91_jaccard_prefix_pairs", """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 4),
           i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))
           AS tk
  FROM w WHERE len(w) >= 5)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
             / len(list_distinct(a.tk || b.tk)), 6) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
      / len(list_distinct(a.tk || b.tk)) >= 0.5
""")
def q91(spark, sf_dir):
    """EXACT 5-gram-shingle Jaccard pairs at scale via prefix filtering
    (PPJoin family): candidates only from rare-first prefixes, exact
    verify after — deterministic recall 1.0, unlike MinHash-LSH.  The
    oracle is the O(n²) all-pairs join this op provably equals."""
    from ultraviolet_spark.operators.dedup import jaccard_pairs_prefix

    return jaccard_pairs_prefix(_t(spark, sf_dir, "documents"),
                                n=5, threshold=0.5)


@q("q92_exact_dup_against", """
WITH nw AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
                      THEN ' uniq' || doc_id ELSE '' END AS text
  FROM documents)
SELECT n.doc_id,
       EXISTS (SELECT 1 FROM documents r WHERE r.text = n.text)
         AS dup_of_ref
FROM nw n
""")
def q92(spark, sf_dir):
    """Incremental exact dedup (new crawl vs existing corpus): the
    'new' side is documents with every 3rd text made unique by a
    deterministic suffix — those must flag dup_of_ref=false, the
    untouched rest true (their text exists verbatim in the
    reference)."""
    from ultraviolet_spark.operators.dedup import exact_dup_against

    ref = _t(spark, sf_dir, "documents")
    new = ref.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 3 == 0,
                        F.concat(F.lit(" uniq"),
                                 F.col("doc_id").cast("string")))
                  .otherwise(F.lit(""))))
    return exact_dup_against(new, ref)


@q("q93_pmi_pairs", """
WITH w AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(
           string_split_regex(lower(trim(text)), '\\s+'))) AS w
  FROM documents WHERE length(trim(text)) > 0),
n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM w),
m AS (SELECT w, COUNT(*) AS n_w FROM w GROUP BY w),
p AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_both
  FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2 HAVING COUNT(*) >= 300)
SELECT w1, w2, CAST(n_both AS BIGINT) AS n_both,
       CAST(m1.n_w AS BIGINT) AS n_w1, CAST(m2.n_w AS BIGINT) AS n_w2,
       round(ln(CAST(n_both AS DOUBLE) * nd / (m1.n_w * m2.n_w)), 6) AS pmi
FROM p JOIN m m1 ON p.w1 = m1.w JOIN m m2 ON p.w2 = m2.w, n
""")
def q93(spark, sf_dir):
    """Doc-level co-occurrence PMI (Church & Hanks collocations):
    word pairs sharing >= 300 documents with their pointwise mutual
    information — positive = travel together, negative = repel."""
    from ultraviolet_spark.operators.textstats import pmi_pairs

    return pmi_pairs(_t(spark, sf_dir, "documents"), min_pair_docs=300)


@q("q94_outlink_domains", """
WITH d AS (SELECT doc_id FROM documents),
l AS (
  SELECT doc_id, 'site' || (doc_id % 17) || '.co.uk' AS domain FROM d
  UNION ALL
  SELECT doc_id, 'example.com' AS domain FROM d)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM l GROUP BY domain
""")
def q94(spark, sf_dir):
    """Outlink extraction + per-domain link-graph rollup: pages carry
    two absolute anchors (a mixed-case .co.uk host with a tracking
    param, a cdn subdomain of example.com) and a relative /about link
    that must be excluded.  The Spark side does the REAL extraction /
    host / registrable-domain work; the oracle builds the expected
    domains analytically from doc_id and never parses html."""
    from ultraviolet_spark.operators.urls import outlink_domain_stats

    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<p><a href="https://WWW.Site'),
            (F.col("doc_id") % 17).cast("string"),
            F.lit('.co.uk/p/'), F.col("doc_id").cast("string"),
            F.lit('?utm_source=x">t</a> <a href="http://cdn'),
            (F.col("doc_id") % 5).cast("string"),
            F.lit('.example.com/a.js">u</a>'),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(' <a href="/about">rel</a>')).otherwise(F.lit("")),
            F.lit("</p>")).alias("html"))
    return outlink_domain_stats(pages)


@q("q95_warc_scan", """
SELECT 'site' || (doc_id % 17) || '.co.uk' AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS bytes_total,
       MAX(TIMESTAMP '2026-01-01' + to_seconds(doc_id)) AS last_crawl
FROM documents GROUP BY 1
""")
def q95(spark, sf_dir):
    """WARC ingestion — the raw Common-Crawl container: documents are
    serialized into 4 member-per-record .warc.gz shards (HTTP response
    records, deterministic url/ts from doc_id), read back through the
    distributed binaryFile→mapInPandas scan, and rolled up per
    registrable domain.  The oracle computes the expected rollup
    analytically from documents and never sees a WARC byte — so url
    parsing, gzip member splitting, HTTP head peeling, WARC-Date
    parsing and payload byte-identity (octet_length of the utf-8 text)
    are all on the hook.  Round 4 (VERDICT r3 #7): the fixture shards
    are no longer built through a driver-side toPandas loop — pages
    synthesize entirely in Catalyst (q233's shape) and ship through
    the distributed uvwarc sink, whose records are byte-
    interchangeable with the old build_warc shards; read-back stays
    on the plain binaryFile→mapInPandas source under test."""
    import tempfile

    from ultraviolet_spark.operators.urls import host, registrable_domain
    from ultraviolet_spark.sources.warc import read_warc
    from ultraviolet_spark.sources.warc_ds import write_warc_ds

    pages_in = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://WWW.Site"), F.col("doc_id") % 17,
                 F.lit(".co.uk/p/"), F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.lit(1767225600) + F.col("doc_id"))
         .alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"))
    d = tempfile.mkdtemp(prefix="uv_q95_")
    write_warc_ds(pages_in, d, num_shards=4)
    pages = read_warc(spark, d)
    return (pages
            .select(registrable_domain(host(F.col("url"))).alias("domain"),
                    "html", "warc_ts")
            .groupBy("domain")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.sum(F.octet_length("html")).cast("long")
                  .alias("bytes_total"),
                 F.max("warc_ts").alias("last_crawl")))


@q("q96_pagerank_domains", """
WITH e AS (
  SELECT DISTINCT doc_id % 101 AS src, (doc_id * 7 + 3) % 101 AS dst
  FROM documents
  UNION
  SELECT doc_id % 101, (doc_id * 13 + 5) % 101 FROM documents),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
c1 AS (SELECT e.dst AS node, SUM((r0.r * 85) // (100 * od.d)) AS c
       FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src
       GROUP BY e.dst),
r1 AS (SELECT n.node, CAST(150000 + COALESCE(c1.c, 0) AS BIGINT) AS r
       FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
c2 AS (SELECT e.dst AS node, SUM((r1.r * 85) // (100 * od.d)) AS c
       FROM e JOIN r1 ON r1.node = e.src JOIN od ON od.src = e.src
       GROUP BY e.dst),
r2 AS (SELECT n.node, CAST(150000 + COALESCE(c2.c, 0) AS BIGINT) AS r
       FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
c3 AS (SELECT e.dst AS node, SUM((r2.r * 85) // (100 * od.d)) AS c
       FROM e JOIN r2 ON r2.node = e.src JOIN od ON od.src = e.src
       GROUP BY e.dst),
r3 AS (SELECT n.node, CAST(150000 + COALESCE(c3.c, 0) AS BIGINT) AS r
       FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
SELECT node, r AS rank_micro FROM r3
""")
def q96(spark, sf_dir):
    """PageRank over a deterministic 101-domain link graph (crawl
    prioritization): exact integer micro-unit power iteration — the
    result is bit-identical to the oracle's unrolled 3-iteration SQL
    regardless of partitioning or aggregation order, something a float
    PageRank can never promise across engines."""
    from ultraviolet_spark.operators.graph import pagerank

    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = (d.select((F.col("doc_id") % 101).alias("src"),
                  ((F.col("doc_id") * 7 + 3) % 101).alias("dst"))
         .union(d.select((F.col("doc_id") % 101).alias("src"),
                         ((F.col("doc_id") * 13 + 5) % 101).alias("dst")))
         .distinct())
    return pagerank(e, iters=3)


@q("q97_png_codec_roundtrip", """
WITH img AS (
  SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h FROM documents),
pxx AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img),
pxy AS (
  SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM pxx),
f AS (
  SELECT doc_id, w, h,
    round(CAST(SUM((doc_id + 11*x + 3*y) % 256) AS DOUBLE) / (w*h), 6)
      AS mean_r,
    round(CAST(SUM((2*doc_id + 5*x + 7*y) % 256) AS DOUBLE) / (w*h), 6)
      AS mean_g,
    round(CAST(SUM((7*doc_id + x + 9*y) % 256) AS DOUBLE) / (w*h), 6)
      AS mean_b
  FROM pxy GROUP BY doc_id, w, h)
SELECT doc_id AS media_id, 'png' AS kind,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels, mean_r, mean_g, mean_b
FROM f
""")
def q97(spark, sf_dir):
    """REAL compressed-codec round-trip: synthesize actual PNGs from
    doc_id (zlib IDAT; scanline filter = doc_id % 5, so all five PNG
    filter types are in the corpus), decode with the pure-numpy PNG
    decoder, emit per-channel means.  The oracle computes the expected
    means analytically and never sees a byte — a hash match proves
    encoder, zlib framing, CRC handling and every filter
    reconstruction are correct."""
    from ultraviolet_spark.operators.multimodal import (
        decode_features, synthesize_png)

    media = synthesize_png(_t(spark, sf_dir, "documents").select("doc_id"))
    return (decode_features(media)
            .select("media_id", "kind", "width", "height", "channels",
                    "mean_r", "mean_g", "mean_b"))


@q("q98_bpe_tokenize", """
SELECT doc_id,
  CAST(length(
    replace(
      replace(
        replace(
          replace(
            replace(text, 'e ', chr(57344)),
            'th', chr(57345)),
          chr(57345) || 'e', chr(57346)),
        '  ', chr(57347)),
      'on', chr(57348))
  ) AS BIGINT) AS n_tokens
FROM documents
""")
def q98(spark, sf_dir):
    """REAL BPE tokenization (greedy merge application, priority
    order) with a fixed 5-merge table that includes a chained merge
    ('th'+'e') and a self-pair ('  ') to exercise overlap runs.  The
    oracle exploits the exact equivalence between greedy BPE apply and
    a chain of non-rescanning string replace() calls with private-use
    sentinel chars — per-doc token counts must match to the row."""
    from ultraviolet_spark.operators.tokenize import BASE_ID, bpe_apply

    merges = [(ord("e"), ord(" ")), (ord("t"), ord("h")),
              (BASE_ID + 1, ord("e")), (ord(" "), ord(" ")),
              (ord("o"), ord("n"))]
    return (bpe_apply(_t(spark, sf_dir, "documents"), merges,
                      with_tokens=False)
            .select("doc_id", "n_tokens"))


@q("q99_containment_pairs", """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 4),
           i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))
           AS tk
  FROM w WHERE len(w) >= 5)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
             / len(a.tk), 6) AS containment
FROM s a JOIN s b ON a.doc_id <> b.doc_id
WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) / len(a.tk) >= 0.9
""")
def q99(spark, sf_dir):
    """EXACT directed CONTAINMENT pairs (|A∩B|/|A| ≥ 0.9 over 5-gram
    shingles) via prefix filtering on the contained side — the
    asymmetric near-dup relation (quotation / excerpting / subset
    boilerplate) symmetric Jaccard misses.  The oracle is the O(n²)
    all-pairs directed join this op provably equals (pigeonhole on the
    rare-first prefix guarantees recall 1.0)."""
    from ultraviolet_spark.operators.dedup import containment_pairs_prefix

    return containment_pairs_prefix(_t(spark, sf_dir, "documents"),
                                    n=5, threshold=0.9)


@q("q100_nfc_normalize", """
WITH raw AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 2 = 0
                      THEN ' e' || chr(769) || 'A' || chr(778)
                           || chr(4352) || chr(4449)
                      ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       nfc_normalize(text) AS text_nfc,
       (text = nfc_normalize(text)) AS was_normalized,
       CAST(length(nfc_normalize(text)) AS INT) AS nfc_len
FROM raw
""")
def q100(spark, sf_dir):
    """Unicode NFC normalization (UAX #15): every even doc gets a
    decomposed suffix (e+U+0301, A+U+030A, Hangul jamo U+1100 U+1161)
    that NFC must compose to é Å 가; odd docs stay byte-identical and
    must quick-check as already-normalized.  Oracle is DuckDB's
    utf8proc-backed nfc_normalize — an independent UAX #15
    implementation, so a match is real conformance evidence."""
    from ultraviolet_spark.operators.normalize import normalize_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    raw = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 2 == 0,
                        F.lit(" e\u0301A\u030A\u1100\u1161"))
                  .otherwise(F.lit(""))))
    out = normalize_corpus(raw, form="NFC")
    return out.select(
        "doc_id", F.col("text").alias("text_nfc"), "was_normalized",
        F.length("text").cast("int").alias("nfc_len"))


@q("q101_hashed_features", """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0),
h AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 1024
              AS BIGINT) AS feature_idx,
         CASE WHEN CAST(('0x' || substr(md5(tok), 9, 1)) AS INTEGER) < 8
              THEN 1 ELSE -1 END AS sgn
  FROM toks WHERE tok <> '')
SELECT doc_id, feature_idx,
       CAST(count(*) AS BIGINT) AS tf,
       CAST(sum(sgn) AS BIGINT) AS signed_tf
FROM h GROUP BY doc_id, feature_idx
""")
def q101(spark, sf_dir):
    """Feature hashing (hashing trick) to dim=1024 — small enough to
    force real bucket collisions, so tf vs signed_tf divergence in the
    result is the sign-hash doing its bias-kill job.  Exact
    cross-engine oracle: md5-derived bucket + sign are bit-identical
    in DuckDB."""
    from ultraviolet_spark.operators.vectorize import hashed_features

    return hashed_features(_t(spark, sf_dir, "documents"), dim=1024)


@q("q102_skew_report", """
WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
r AS (SELECT cnt,
             row_number() OVER (ORDER BY cnt, CAST(user_id AS VARCHAR)) AS rn,
             count(*) OVER () AS nk
      FROM c)
SELECT CAST(max(nk) AS BIGINT) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
         AS max_share,
       round(CAST(sum(cnt) AS DOUBLE) / CAST(max(nk) AS DOUBLE), 6)
         AS mean_cnt,
       CAST(max(CASE WHEN rn = CAST(ceil(0.5 * nk) AS BIGINT)
                     THEN cnt END) AS BIGINT) AS p50_cnt,
       CAST(max(CASE WHEN rn = CAST(ceil(0.9 * nk) AS BIGINT)
                     THEN cnt END) AS BIGINT) AS p90_cnt,
       CAST(max(CASE WHEN rn = CAST(ceil(0.99 * nk) AS BIGINT)
                     THEN cnt END) AS BIGINT) AS p99_cnt,
       round(CAST(max(cnt) AS DOUBLE) * CAST(max(nk) AS DOUBLE)
             / CAST(sum(cnt) AS DOUBLE), 6) AS imbalance,
       round(CAST(2 * sum(rn * cnt) - (max(nk) + 1) * sum(cnt) AS DOUBLE)
             / (CAST(max(nk) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE)), 6)
         AS gini
FROM r
""")
def q102(spark, sf_dir):
    """Key-skew report over events.user_id: discrete percentiles of
    per-key counts, straggler imbalance (max/mean) and exact Gini with
    a deterministic (cnt, key) rank tiebreak — the diagnostic that
    decides whether a shuffle key needs salting BEFORE the join runs.
    Everything integer-ranked so the oracle compares exact values."""
    from ultraviolet_spark.operators.skew import skew_report

    return skew_report(_t(spark, sf_dir, "events"), "user_id")


@q("q103_title_anchor_pairs", """
SELECT doc_id,
       'Doc & Page ' || doc_id AS title,
       'https://ex' || (doc_id % 7) || '.org/p/' || doc_id AS link,
       'Terms & C ' || doc_id AS anchor
FROM documents
""")
def q103(spark, sf_dir):
    """Title + anchor-text extraction: pages carry an entity-laden,
    padded <title>, one absolute anchor with an entity in its text and
    one relative anchor that must be excluded.  The Spark side does
    the REAL regex scan + kernel entity-decode/whitespace-collapse;
    the oracle builds the expected decoded strings analytically."""
    from ultraviolet_spark.operators.urls import (
        extract_anchors,
        extract_title,
    )

    d = F.col("doc_id").cast("string")
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title> Doc &amp; Page "), d,
            F.lit(' </title></head><body><a href="https://ex'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".org/p/"), d,
            F.lit('">Terms &amp; C '), d,
            F.lit('</a> <a href="/rel">skip</a></body></html>'))
        .alias("html"))
    titles = extract_title(pages)
    anchors = extract_anchors(pages)
    return titles.join(anchors, on="doc_id").select(
        "doc_id", "title", "link", "anchor")


@q("q104_cdx_roundtrip", """
SELECT 'uk,co,site' || (doc_id % 17) || ')/p/' || doc_id AS urlkey,
       TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS warc_ts,
       'https://WWW.Site' || (doc_id % 17) || '.co.uk/p/' || doc_id AS url,
       'text/html' AS mime,
       200 AS status,
       md5('https://WWW.Site' || (doc_id % 17) || '.co.uk/p/' || doc_id)
         AS digest,
       CAST(n_chars AS BIGINT) AS length,
       CAST(doc_id * 100 AS BIGINT) AS offset,
       'shard-' || (doc_id % 3) || '.warc.gz' AS filename
FROM documents
""")
def q104(spark, sf_dir):
    """CDX(J) index write→parse roundtrip: SURT urlkey derivation
    (scheme/www dropped, host labels reversed, lowercased), 14-digit
    timestamp format/parse, JSON blob encode/decode — all Catalyst.
    The oracle builds every parsed field analytically from doc_id."""
    from ultraviolet_spark.sources.cdx import cdx_lines, parse_cdx

    d = F.col("doc_id")
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://WWW.Site"), (d % 17).cast("string"),
                 F.lit(".co.uk/p/"), d.cast("string")).alias("url"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_dt_interval(secs=d.cast("double"))).alias("warc_ts"),
        F.col("n_chars").alias("length"),
        (d * 100).alias("offset"),
        F.concat(F.lit("shard-"), (d % 3).cast("string"),
                 F.lit(".warc.gz")).alias("filename"))
    return parse_cdx(cdx_lines(pages))


@q("q105_blocklist_filter", """
SELECT doc_id,
       'site' || (doc_id % 17) || '.co.uk' AS domain,
       (doc_id % 17) IN (3, 7) AS blocked_domain,
       (doc_id % 4 = 0) AS blocked_pattern,
       NOT ((doc_id % 17) IN (3, 7) OR doc_id % 4 = 0) AS keep
FROM documents
""")
def q105(spark, sf_dir):
    """UT1-style URL blocklist filtering: mixed-case hosts must match
    the lowercased blocklist via REAL registrable-domain extraction,
    tracking params via the regex alternation; the oracle derives all
    three flags analytically from doc_id."""
    from ultraviolet_spark.operators.urls import blocklist_filter

    d = F.col("doc_id")
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://WWW.Site"), (d % 17).cast("string"),
                 F.lit(".co.uk/p/"), d.cast("string"),
                 F.when(d % 4 == 0, F.lit("?utm_source=x"))
                  .otherwise(F.lit(""))).alias("url"))
    bl = spark.createDataFrame(
        [("Site3.co.uk",), ("site7.co.uk",)], "domain string")
    return blocklist_filter(pages, bl, url_patterns=[r"\?utm_"]).select(
        "doc_id", "domain", "blocked_domain", "blocked_pattern", "keep")


@q("q106_c4_line_clean", """
WITH f AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 <> 0
         THEN 'This is a good first line for doc ' || doc_id || '.'
         END AS l1,
    CASE WHEN doc_id % 3 <> 0
         THEN 'Another perfectly fine middle line number two.' END AS l3,
    CASE WHEN doc_id % 7 = 0
         THEN 'Contains Lorem Ipsum filler text markers here.' END AS l4,
    'Document ' || doc_id || ' ends with an emphatic final sentence!'
      AS l5
  FROM documents),
k AS (
  SELECT doc_id, concat_ws(chr(10), l1, l3, l4, l5) AS clean_text,
         1 + (l1 IS NOT NULL)::INT + (l3 IS NOT NULL)::INT
           + (l4 IS NOT NULL)::INT AS nk
  FROM f)
SELECT k.doc_id, clean_text,
       CAST(5 + (k.doc_id % 11 = 0)::INT AS BIGINT) AS n_lines_total,
       CAST(nk AS BIGINT) AS n_lines_kept,
       CAST(nk AS BIGINT) AS n_sentences,
       (k.doc_id % 7 = 0) AS has_lorem,
       (k.doc_id % 11 = 0) AS has_brace,
       (k.doc_id % 7 <> 0 AND k.doc_id % 11 <> 0 AND nk >= 3)
         AS keep_page
FROM k
""")
def q106(spark, sf_dir):
    """C4 line-level cleaning (Raffel et al. §2.2): constructed pages
    mix keepable lines with no-terminal-punct, too-short, javascript,
    Lorem-Ipsum and '{' lines per doc_id arithmetic; the Spark side
    runs the REAL filter expressions, the oracle derives every output
    (incl. the rejoined clean_text) analytically."""
    from ultraviolet_spark.operators.corpus import c4_clean

    d = F.col("doc_id")
    ds = d.cast("string")
    l1 = F.when(d % 5 != 0,
                F.concat(F.lit("This is a good first line for doc "),
                         ds, F.lit("."))).otherwise(
                             F.lit("Too short here."))
    l2 = F.lit("No terminal punctuation in this line")
    l3 = F.when(d % 3 == 0,
                F.lit("Enable javascript to view this important"
                      " content please.")).otherwise(
        F.lit("Another perfectly fine middle line number two."))
    l4 = F.when(d % 7 == 0,
                F.lit("Contains Lorem Ipsum filler text markers here.")
                ).otherwise(F.lit("Closing thoughts go here"))
    l5 = F.concat(F.lit("Document "), ds,
                  F.lit(" ends with an emphatic final sentence!"))
    text = F.concat(
        F.concat_ws("\n", l1, l2, l3, l4, l5),
        F.when(d % 11 == 0, F.lit("\nvar x = {")).otherwise(F.lit("")))
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id", text.alias("text"))
    return c4_clean(pages, min_sentences=3)


@q("q107_robots_allowed", """
SELECT doc_id,
       'https://site' || (doc_id % 5) || '.com' ||
       CASE WHEN doc_id % 4 = 0 THEN '/public/page' || doc_id
            WHEN doc_id % 4 = 1 THEN '/private/page' || doc_id
            WHEN doc_id % 4 = 2 THEN '/private/open/page' || doc_id
            ELSE '/' END AS url,
       CASE WHEN doc_id % 5 = 4 THEN true          -- no robots.txt
            WHEN doc_id % 4 = 1 THEN false         -- Disallow: /private/
            ELSE true END AS allowed
FROM documents
""")
def q107(spark, sf_dir):
    """robots.txt admission (RFC 9309): hosts 0-3 publish a policy
    with a comment, a badbot group, an empty Disallow (allow-all
    no-op) and an Allow that overrides a Disallow by longest-match;
    host 4 has no robots.txt (everything allowed).  The Spark side
    REALLY parses the file and applies longest-match; the oracle
    derives the verdict analytically."""
    from ultraviolet_spark.operators.robots import is_allowed, parse_robots

    txt = ("# crawler policy\n"
           "User-agent: badbot\n"
           "Disallow: /\n"
           "\n"
           "User-agent: *\n"
           "Disallow: /private/\n"
           "Allow: /private/open/\n"
           "Disallow:\n")
    robots = spark.createDataFrame(
        [(f"site{i}.com", txt) for i in range(4)],
        "host string, robots_txt string")
    d = F.col("doc_id")
    ds = d.cast("string")
    path = (F.when(d % 4 == 0, F.concat(F.lit("/public/page"), ds))
            .when(d % 4 == 1, F.concat(F.lit("/private/page"), ds))
            .when(d % 4 == 2, F.concat(F.lit("/private/open/page"), ds))
            .otherwise(F.lit("/")))
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://site"), (d % 5).cast("string"),
                 F.lit(".com"), path).alias("url"))
    return is_allowed(urls, parse_robots(robots)).select(
        "doc_id", "url", "allowed")


@q("q108_bloom_membership", """
WITH ev AS (
  SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\\s+'))
    AS tok FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0),
od AS (
  SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\\s+'))
    AS tok FROM documents WHERE doc_id % 2 = 1 AND length(trim(text)) > 0),
bloom AS (
  SELECT p // 32 AS w,
         bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS word
  FROM (SELECT CAST(CAST(('0x' || substr(md5(tok || ':' || i), 1, 12))
                    AS UBIGINT) % 2048 AS BIGINT) AS p
        FROM ev, (SELECT unnest(range(3)) AS i))
  GROUP BY 1),
probe AS (
  SELECT tok, i,
         CAST(CAST(('0x' || substr(md5(tok || ':' || i), 1, 12))
              AS UBIGINT) % 2048 AS BIGINT) AS p
  FROM od, (SELECT unnest(range(3)) AS i))
SELECT probe.tok AS tok,
       bool_and(word IS NOT NULL
                AND (word & (1::BIGINT << CAST(p % 32 AS INT))) != 0)
         AS might_contain,
       bool_and(EXISTS (SELECT 1 FROM ev WHERE ev.tok = probe.tok))
         AS actually_in
FROM probe LEFT JOIN bloom ON probe.p // 32 = bloom.w
GROUP BY probe.tok
""")
def q108(spark, sf_dir):
    """Distributed Bloom-filter membership (decontamination scale
    path): filter built over even-doc vocabulary as a (word_idx, word)
    TABLE (no driver collect), probed with odd-doc vocabulary.  2048
    bits forces real false positives; actually_in (exact) is computed
    alongside so the no-false-negative invariant is visible in the
    result itself.  md5-derived positions make the whole filter
    bit-identical cross-engine — the oracle rebuilds it in SQL."""
    from ultraviolet_spark.operators.dedup import shingles
    from ultraviolet_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    docs = _t(spark, sf_dir, "documents")
    ev = (shingles(docs.filter(F.col("doc_id") % 2 == 0), n=1)
          .select(F.col("shingle").alias("tok")).distinct())
    od = (shingles(docs.filter(F.col("doc_id") % 2 == 1), n=1)
          .select(F.col("shingle").alias("tok")).distinct())
    bloom = bloom_build(ev, col="tok", n_bits=2048, k=3)
    out = bloom_might_contain(od, bloom, col="tok", n_bits=2048, k=3)
    exact = ev.withColumn("actually_in", F.lit(True))
    return (out.join(exact, on="tok", how="left")
            .select("tok", "might_contain",
                    F.coalesce("actually_in", F.lit(False))
                    .alias("actually_in")))


@q("q109_sitemap_roundtrip", """
SELECT 'site' || (doc_id % 17) || '.co.uk' AS host,
       'https://site' || (doc_id % 17) || '.co.uk/p/' || doc_id AS loc,
       TIMESTAMP '2026-01-01' + to_days(CAST(doc_id % 28 AS INT))
         AS lastmod,
       CAST(NULL AS VARCHAR) AS changefreq,
       CAST(NULL AS DOUBLE) AS priority
FROM documents
""")
def q109(spark, sf_dir):
    """Sitemap XML write→parse roundtrip: per-host <urlset> documents
    built from doc_id, parsed back with Spark 4's native from_xml
    (JVM-side Catalyst XML) + W3C-date handling; the oracle constructs
    every parsed field analytically and never sees XML."""
    from ultraviolet_spark.sources.sitemap import build_sitemap, parse_sitemap

    d = F.col("doc_id")
    urls = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("site"), (d % 17).cast("string"),
                 F.lit(".co.uk")).alias("host"),
        F.concat(F.lit("https://site"), (d % 17).cast("string"),
                 F.lit(".co.uk/p/"), d.cast("string")).alias("loc"),
        F.date_add(F.lit("2026-01-01").cast("date"),
                   (d % 28).cast("int")).alias("lm"))
    return parse_sitemap(build_sitemap(urls, lastmod_col="lm"))


@q("q110_split_sentences", """
SELECT doc_id, CAST(i AS INT) AS sent_idx,
       CASE i WHEN 0 THEN 'Dr. Smith wrote doc ' || doc_id || '.'
              WHEN 1 THEN 'It scored 3.5 points!'
              WHEN 2 THEN 'Was that good?'
              ELSE 'E.g. yes.' END AS sentence
FROM documents, (SELECT unnest(range(4)) AS i)
""")
def q110(spark, sf_dir):
    """Rule-based sentence splitting: the constructed text packs the
    three hard cases (abbreviation 'Dr.', decimal '3.5', abbreviation
    'E.g.' at sentence start) between real boundaries; the Spark side
    runs the REAL sentinel-protect + lookaround split, the oracle
    enumerates the four expected sentences analytically."""
    from ultraviolet_spark.operators.textstats import split_sentences

    ds = F.col("doc_id").cast("string")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("Dr. Smith wrote doc "), ds,
                 F.lit(". It scored 3.5 points! Was that good?"
                       " E.g. yes.")).alias("text"))
    return split_sentences(docs)


@q("q111_crawl_frontier", """
SELECT doc_id,
       'https://site' || (doc_id % 5) || '.com' ||
       CASE WHEN doc_id % 4 = 0 THEN '/public/page' || doc_id
            WHEN doc_id % 4 = 1 THEN '/private/page' || doc_id
            WHEN doc_id % 4 = 2 THEN '/private/open/page' || doc_id
            ELSE '/' END AS url,
       (doc_id % 5 = 4 OR doc_id % 4 <> 1) AS allowed,
       (doc_id % 5 = 2) AS blocked_domain,
       -- '/' URLs (doc_id%4=3) collide across docs: the same
       -- https://siteN.com/ is crawled whenever ANY doc ≡0 (mod 3)
       -- shares the host, which by CRT always happens at 500 docs
       (doc_id % 3 = 0 OR doc_id % 4 = 3) AS already_crawled,
       ((doc_id % 5 = 4 OR doc_id % 4 <> 1)
        AND doc_id % 5 <> 2
        AND NOT (doc_id % 3 = 0 OR doc_id % 4 = 3)) AS frontier
FROM documents
""")
def q111(spark, sf_dir):
    """End-to-end crawl-frontier composition: robots admission (q107's
    policy) + blocklist (site2.com) + already-crawled anti-membership
    via SURT keys against a CDX index built over every third URL.  The
    oracle derives all four verdicts analytically."""
    from ultraviolet_spark.operators.frontier import build_frontier
    from ultraviolet_spark.operators.robots import parse_robots
    from ultraviolet_spark.sources.cdx import cdx_lines, parse_cdx

    txt = ("User-agent: *\n"
           "Disallow: /private/\n"
           "Allow: /private/open/\n")
    robots = spark.createDataFrame(
        [(f"site{i}.com", txt) for i in range(4)],
        "host string, robots_txt string")
    d = F.col("doc_id")
    ds = d.cast("string")
    path = (F.when(d % 4 == 0, F.concat(F.lit("/public/page"), ds))
            .when(d % 4 == 1, F.concat(F.lit("/private/page"), ds))
            .when(d % 4 == 2, F.concat(F.lit("/private/open/page"), ds))
            .otherwise(F.lit("/")))
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://site"), (d % 5).cast("string"),
                 F.lit(".com"), path).alias("url"))
    cdx = parse_cdx(cdx_lines(
        urls.filter(d % 3 == 0).select(
            "url",
            F.lit("2026-01-01 00:00:00").cast("timestamp")
            .alias("warc_ts"))))
    bl = spark.createDataFrame([("site2.com",)], "domain string")
    return build_frontier(urls, parse_robots(robots), bl, cdx).select(
        "doc_id", "url", "allowed", "blocked_domain",
        "already_crawled", "frontier")


@q("q112_recrawl_rates", """
WITH d AS (
  SELECT user_id,
         (event_type <> lag(event_type) OVER w) AS chg,
         (epoch(ts) - lag(epoch(ts)) OVER w) AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
a AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_crawls,
         CAST(sum(CASE WHEN chg THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changed,
         avg(gap) AS mean_gap,
         CAST(count(gap) AS BIGINT) AS n_int
  FROM d GROUP BY user_id)
SELECT user_id, n_crawls, n_changed,
       round(mean_gap, 6) AS mean_gap_secs,
       round(-ln(1 - CAST(n_changed AS DOUBLE) / (n_int + 1))
             / mean_gap, 9) AS change_rate
FROM a WHERE n_int >= 1
""")
def q112(spark, sf_dir):
    """Cho & Garcia-Molina page-change-rate estimation over the event
    stream (user_id plays the url, event_type the content hash):
    regularized Poisson estimator -ln(1-r)/mean_gap, one ln per key,
    mirrored exactly in SQL."""
    from ultraviolet_spark.operators.windows import recrawl_estimates

    return recrawl_estimates(
        _t(spark, sf_dir, "events"),
        by="user_id", order="ts", content_col="event_type",
        tiebreak="event_id")


@q("q113_scd2_pit_lookup", """
WITH probes AS (
  SELECT event_id, user_id, ts + INTERVAL 30 MINUTE AS pts FROM events)
SELECT p.event_id, p.user_id, p.pts,
       e.event_type AS feat_event_type,
       e.value AS feat_value
FROM probes p
ASOF LEFT JOIN events e
  ON p.user_id = e.user_id AND e.ts <= p.pts
""")
def q113(spark, sf_dir):
    """SCD2 validity intervals + point-in-time lookup: observations
    become [valid_from, valid_to) rows, probes (every event shifted
    +30 min) join by interval predicate.  The oracle is DuckDB's
    native ASOF JOIN — an INDEPENDENT implementation of the same
    latest-≤ semantics, so a hash match is real PIT-correctness
    evidence (same cross-check family as q15)."""
    from ultraviolet_spark.operators.history import pit_lookup, scd2_intervals

    ev = _t(spark, sf_dir, "events")
    intervals = scd2_intervals(
        ev.select("user_id", "ts",
                  F.col("event_type").alias("feat_event_type"),
                  F.col("value").alias("feat_value")),
        by="user_id", order="ts").drop("ts")
    probes = ev.select(
        "event_id", "user_id",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("pts"))
    return pit_lookup(intervals, probes, by="user_id", ts_col="pts").select(
        "event_id", "user_id", "pts", "feat_event_type", "feat_value")


# Deterministic mixed-charset page synthesis for q114 (testdata html is
# all-UTF-8): six byte-level shapes keyed by doc_id % 6 covering every
# branch of the HTML5 sniff — BOM (utf-16le, utf-8), meta charset
# (utf-8, http-equiv windows-1251, unquoted uppercase LATIN1 label) and
# the no-declaration windows-1252 default.  Non-ASCII payload bytes are
# spliced in with unhex() so each page is byte-exactly what a legacy
# server would emit (0xC4E0 = 'Да' in cp1251; 0x93/0x94 = curly quotes
# and 0x80 = '€' in cp1252 — NOT in iso-8859-1, proving the WHATWG
# latin1→windows-1252 alias rule is applied).
def _synth_charset_pages(spark, sf_dir):
    d = F.col("doc_id")
    nn = (d % 100).cast("string")

    def _iso(col):
        return F.encode(col, "ISO-8859-1")

    html = (
        F.when(d % 6 == 0, F.concat(
            F.unhex(F.lit("FFFE")),
            F.encode(F.concat(F.lit("<p>uv #"), nn, F.lit("</p>")),
                     "UTF-16LE")))
        .when(d % 6 == 1, F.concat(
            F.unhex(F.lit("EFBBBF")),
            F.encode(F.concat(F.lit("<p>café #"), nn, F.lit("</p>")),
                     "UTF-8")))
        .when(d % 6 == 2, F.encode(
            F.concat(F.lit('<meta charset="utf-8"><p>café #'), nn,
                     F.lit("</p>")), "UTF-8"))
        .when(d % 6 == 3, F.concat(
            _iso(F.lit('<meta http-equiv="Content-Type" '
                       'content="text/html; charset=windows-1251"><p>')),
            F.unhex(F.lit("C4E0")),
            _iso(F.concat(F.lit(" #"), nn, F.lit("</p>")))))
        .when(d % 6 == 4, F.concat(
            _iso(F.lit("<p>no meta ")), F.unhex(F.lit("93")),
            _iso(F.concat(F.lit("quoted #"), nn)), F.unhex(F.lit("94")),
            _iso(F.lit("</p>"))))
        .otherwise(F.concat(
            _iso(F.lit("<META CHARSET=LATIN1><p>euro ")),
            F.unhex(F.lit("80")),
            _iso(F.concat(F.lit(" #"), nn, F.lit("</p>")))))
    )
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", html.alias("html")))


@q("q114_charset_sniff_decode", """
SELECT doc_id,
  CASE doc_id % 6
    WHEN 0 THEN 'utf-16le' WHEN 1 THEN 'utf-8' WHEN 2 THEN 'utf-8'
    WHEN 3 THEN 'windows-1251' WHEN 4 THEN 'windows-1252'
    ELSE 'windows-1252' END AS charset,
  CASE doc_id % 6
    WHEN 0 THEN 'bom' WHEN 1 THEN 'bom' WHEN 2 THEN 'meta'
    WHEN 3 THEN 'meta' WHEN 4 THEN 'default' ELSE 'meta' END
    AS charset_source,
  CASE doc_id % 6
    WHEN 0 THEN '<p>uv #' || (doc_id % 100) || '</p>'
    WHEN 1 THEN '<p>café #' || (doc_id % 100) || '</p>'
    WHEN 2 THEN '<meta charset="utf-8"><p>café #' || (doc_id % 100)
                || '</p>'
    WHEN 3 THEN '<meta http-equiv="Content-Type" content="text/html; '
                || 'charset=windows-1251"><p>Да #' || (doc_id % 100)
                || '</p>'
    WHEN 4 THEN '<p>no meta “quoted #' || (doc_id % 100) || '”</p>'
    ELSE '<META CHARSET=LATIN1><p>euro € #' || (doc_id % 100) || '</p>'
  END AS text_raw
FROM documents
""")
def q114(spark, sf_dir):
    """HTML5 encoding sniff + legacy-charset decode: BOM → meta-charset
    prescan → windows-1252 default, then a per-row-charset vectorized
    decode (utf8/utf16 state machines + kernels/sbcs LUT gather).  The
    pages are synthesized byte-exactly from doc_id (incl. raw cp1251 /
    cp1252 bytes via unhex) and the oracle reconstructs the expected
    charset, source and DECODED TEXT analytically — it never parses a
    byte, so a hash match proves sniff precedence, the WHATWG label
    aliasing (LATIN1→windows-1252, case-insensitive unquoted attr),
    BOM stripping and every LUT/kernel decode path at once."""
    from ultraviolet_spark.operators.charset import decode_html

    pages = _synth_charset_pages(spark, sf_dir)
    return (decode_html(pages)
            .select("doc_id", "charset", "charset_source", "text_raw"))


@q("q115_mojibake_repair", """
SELECT doc_id,
  CASE doc_id % 5
    WHEN 0 THEN 'plain ascii #' || (doc_id % 100)
    WHEN 1 THEN 'café #' || (doc_id % 100)
    WHEN 2 THEN 'café #' || (doc_id % 100)
    WHEN 3 THEN '“quote #' || (doc_id % 100)
    ELSE 'да #' || (doc_id % 100)
  END AS text_fixed,
  doc_id % 5 >= 2 AS was_mojibake
FROM documents
""")
def q115(spark, sf_dir):
    """ftfy-style mojibake repair: texts synthesized from doc_id cover
    clean ASCII, GENUINE accented text (must survive untouched — its
    cp1252 reverse bytes are not valid UTF-8), and three real-world
    double-encodings (cafÃ© / â€œ / Ð´Ð°).  The oracle states the
    expected repaired strings analytically; a hash match proves both
    the repair (reverse LUT + utf8 state machine) and the
    no-false-positive guarantee on the negative classes."""
    from ultraviolet_spark.operators.charset import repair_mojibake

    d = F.col("doc_id")
    nn = (d % 100).cast("string")
    text = (
        F.when(d % 5 == 0, F.concat(F.lit("plain ascii #"), nn))
        .when(d % 5 == 1, F.concat(F.lit("café #"), nn))
        .when(d % 5 == 2, F.concat(F.lit("cafÃ© #"), nn))
        .when(d % 5 == 3, F.concat(F.lit("â€œquote #"), nn))
        .otherwise(F.concat(F.lit("Ð´Ð° #"), nn)))
    docs = _t(spark, sf_dir, "documents").select("doc_id", text.alias("text"))
    return (repair_mojibake(docs)
            .select("doc_id", "text_fixed", "was_mojibake"))


@q("q116_snapshot_diff", """
SELECT doc_id,
  CASE WHEN doc_id % 10 = 0 THEN 'removed'
       WHEN doc_id % 10 = 9 THEN 'added'
       WHEN doc_id % 3 = 0 THEN 'changed'
       ELSE 'unchanged' END AS status
FROM documents
""")
def q116(spark, sf_dir):
    """Incremental-crawl snapshot diff: two crawls of the documents
    table (old drops doc_id%10==9, new drops %10==0 and rewrites the
    text of every %3==0 page) → per-key added/removed/changed/
    unchanged.  The operator compares md5 fingerprints across a
    full-outer join; the oracle restates the expected status purely
    from doc_id arithmetic — it never hashes — so a match proves the
    fingerprint comparison, the outer-join null handling and the
    precedence order."""
    from ultraviolet_spark.operators.history import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 9).select("doc_id", "text")
    new = (docs.filter(F.col("doc_id") % 10 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 3 == 0,
                          F.concat(F.col("text"), F.lit(" v2")))
                   .otherwise(F.col("text")).alias("text")))
    return snapshot_diff(old, new, key="doc_id", fp_cols=("text",))


@q("q117_hll_registers", """
WITH h AS (
  SELECT CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS UBIGINT) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL)
SELECT CAST(h % 512 AS INTEGER) AS bucket,
       CAST(MAX(39 - length(ltrim(bin(h >> 9), '0')) + 1) AS INTEGER)
         AS max_rho
FROM h GROUP BY 1
""")
def q117(spark, sf_dir):
    """HyperLogLog register TABLE over events.user_id (p=9): bucket =
    low 9 bits of the 48-bit md5 prefix, rho = leading-zero count of
    the remaining 39 bits + 1 via exact integer/string ops (no float
    log2).  The oracle rebuilds every register bit-for-bit in DuckDB —
    the mergeable-sketch analogue of the q108 Bloom table, and the
    exact-hash counterpart to q46's accuracy-band-only HLL++ check."""
    from ultraviolet_spark.operators.sketches import hll_registers

    ev = _t(spark, sf_dir, "events")
    return hll_registers(ev.select("user_id"), col="user_id", p=9)


@q("q118_resolve_redirects", """
WITH RECURSIVE e AS (
  SELECT 'u' || doc_id AS src, 'u' || (doc_id - 1) AS dst
  FROM documents WHERE doc_id % 8 <> 0
  UNION ALL
  SELECT * FROM (VALUES ('c0','c1'), ('c1','c2'), ('c2','c0')) v(src, dst)
),
walk AS (
  SELECT src AS node, dst AS ptr, 1::BIGINT AS hops FROM e
  UNION ALL
  SELECT w.node, e.dst, w.hops + 1 FROM walk w JOIN e ON w.ptr = e.src
  WHERE w.hops < 64
),
term AS (
  SELECT node, ptr, hops FROM walk
  WHERE ptr NOT IN (SELECT src FROM e)
)
SELECT s.src AS node, t.ptr AS final, t.hops AS hops,
       t.ptr IS NOT NULL AS resolved
FROM (SELECT DISTINCT src FROM e) s
LEFT JOIN term t ON s.src = t.node
""")
def q118(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling: redirect chains
    u_d → u_{d-1} → … → u_{8k} (length doc_id%8) plus a deliberate
    3-cycle c0→c1→c2→c0.  The Spark side composes the pointer map with
    itself log₂ times; the oracle follows chains ONE hop at a time with
    a recursive CTE — an independent implementation of the same
    semantics, incl. the loop rule (cycle rows come back
    resolved=false with NULL final/hops)."""
    from ultraviolet_spark.operators.graph import resolve_redirects

    d = F.col("doc_id")
    chain = (_t(spark, sf_dir, "documents")
             .filter(d % 8 != 0)
             .select(F.concat(F.lit("u"), d.cast("string")).alias("src"),
                     F.concat(F.lit("u"), (d - 1).cast("string"))
                     .alias("dst")))
    cyc = spark.createDataFrame(
        [("c0", "c1"), ("c1", "c2"), ("c2", "c0")], "src string, dst string")
    return resolve_redirects(chain.unionByName(cyc))


@q("q119_inverted_index", """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS a
  FROM documents WHERE length(trim(text)) > 0),
ex AS (
  SELECT doc_id, unnest(a) AS token,
         generate_subscripts(a, 1) AS pos
  FROM tok)
SELECT token, doc_id, COUNT(*) AS tf,
       array_to_string(list_sort(list(CAST(pos AS INTEGER))), ',')
         AS positions
FROM ex GROUP BY token, doc_id
""")
def q119(spark, sf_dir):
    """Inverted-index posting rows over the documents corpus: (token,
    doc_id, tf, 1-based positions).  The relational row-per-posting
    shape is the one that survives 10^12 docs (stop-word lists stay
    splittable and partial-aggregate); positions sort_array-ed for
    partitioning invariance.  Oracle rebuilds the index with DuckDB's
    own unnest/generate_subscripts — independent tokenization
    plumbing, same definition of a term."""
    from ultraviolet_spark.operators.index import build_postings

    p = build_postings(_t(spark, sf_dir, "documents"))
    # positions serialized: the driver's canonicalizer cannot hash
    # array columns (same constraint as r1 q30/q34)
    return p.select("token", "doc_id", "tf",
                    F.array_join("positions", ",").alias("positions"))


@q("q120_index_dictionary", """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS a
  FROM documents WHERE length(trim(text)) > 0),
ex AS (SELECT doc_id, unnest(a) AS token FROM tok)
SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(COUNT(*) AS BIGINT) AS cf
FROM ex GROUP BY token
""")
def q120(spark, sf_dir):
    """Index dictionary (token → document frequency, collection
    frequency) rolled up from the posting rows — the second shuffle of
    classic index construction.  Oracle recomputes df as COUNT
    (DISTINCT doc_id) directly, NOT via the postings rollup, so a
    match also re-proves the (token, doc) grouping upstream."""
    from ultraviolet_spark.operators.index import build_postings, token_stats

    return token_stats(build_postings(_t(spark, sf_dir, "documents")))


@q("q121_cap_per_domain", """
WITH d AS (
  SELECT doc_id, 'dom' || (doc_id % 7) AS domain FROM documents),
rk AS (
  SELECT doc_id, domain,
         ROW_NUMBER() OVER (PARTITION BY domain
                            ORDER BY md5(':' || doc_id), doc_id) AS rk
  FROM d)
SELECT doc_id, domain FROM rk WHERE rk <= 40
""")
def q121(spark, sf_dir):
    """Per-domain document quota (RefinedWeb anti-SEO-farm rule): 7
    synthetic domains, cap 40 — every domain is over-cap at sf≥0.01 so
    the window path is exercised; the kept set is the deterministic
    md5-of-id order prefix, which the oracle states with its own
    ROW_NUMBER.  (The operator's under-cap fast path is
    pytest-covered.)"""
    from ultraviolet_spark.operators.corpus import cap_per_domain

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("dom"), (F.col("doc_id") % 7).cast("string"))
        .alias("domain"))
    return cap_per_domain(d, cap=40)


@q("q122_count_min_sketch", """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0),
cells AS (
  SELECT i.d AS d,
         CAST(CAST(('0x' || substr(md5(tok || ':' || i.d), 1, 12))
              AS UBIGINT) % 1024 AS BIGINT) AS w
  FROM toks, (SELECT unnest(range(3)) AS d) i)
SELECT CAST(d AS INTEGER) AS d, w, COUNT(*) AS cnt
FROM cells GROUP BY d, w
""")
def q122(spark, sf_dir):
    """Count-Min sketch TABLE over the corpus token stream (depth 3 ×
    width 1024; ~0.27% one-sided error at this N): every cell count is
    an exact integer and the md5 row hashes are engine-portable, so
    the oracle rebuilds the ENTIRE sketch bit-for-bit — the same
    exact-oracle-able-sketch family as the Bloom (q108) and HLL
    (q117) tables.  Point-query accuracy (est ≥ true, bounded
    overshoot) is pytest-covered."""
    from ultraviolet_spark.operators.sketches import cms_table

    # Every occurrence counts (CMS is a FREQUENCY sketch) — so a plain
    # token explode, NOT dedup.shingles (which is per-doc DISTINCT).
    d = _t(spark, sf_dir, "documents")
    toks = (d.filter(F.length(F.trim("text")) > 0)
            .select(F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                    .alias("tok")))
    return cms_table(toks, col="tok", width=1024, depth=3)


@q("q123_politeness_schedule", """
WITH f AS (
  SELECT 'https://h' || (doc_id % 11) || '.com/p/' || doc_id AS url,
         'h' || (doc_id % 11) || '.com' AS host,
         1 + doc_id % 11 AS crawl_delay
  FROM documents),
s AS (
  SELECT url, host, crawl_delay,
         CAST(CAST(('0x' || substr(md5(host), 1, 12)) AS UBIGINT) % 16
              AS INTEGER) AS worker,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY md5(url), url) - 1
           AS fetch_seq
  FROM f)
SELECT url, host, worker, CAST(fetch_seq AS BIGINT) AS fetch_seq,
       CAST(fetch_seq * crawl_delay AS BIGINT) AS fetch_offset_s
FROM s
""")
def q123(spark, sf_dir):
    """Polite fetch plan: 11 synthetic hosts with per-host Crawl-delay
    (1..11 s), pinned to 16 workers by host hash, sequenced in
    deterministic md5-of-url order with offset = seq × delay.  The
    oracle restates worker pinning, sequencing and spacing with its
    own window — per-host serialization is then true by construction
    (one host → one worker, increasing offsets)."""
    from ultraviolet_spark.operators.frontier import politeness_schedule

    d = F.col("doc_id")
    f = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://h"), (d % 11).cast("string"),
                 F.lit(".com/p/"), d.cast("string")).alias("url"),
        F.concat(F.lit("h"), (d % 11).cast("string"), F.lit(".com"))
        .alias("host"),
        (1 + d % 11).cast("long").alias("crawl_delay"))
    return (politeness_schedule(f, workers=16, delay_col="crawl_delay")
            .select("url", "host", "worker", "fetch_seq",
                    "fetch_offset_s"))


# Shared literals for q124's synthesized page blocks (Spark + oracle must
# agree byte-for-byte).  _JT_G/_JT_H are stopword-dense content sentences;
# _JT_COPY is a stopword-free footer.
_JT_G = "the data and the index is in the archive with care for all "
_JT_H = "all of the data is in the index and the archive is with us for good "
_JT_COPY = ("copyright 2026 example corporation rights reserved worldwide "
            "privacy terms cookies settings preferences page")


@q("q124_justext_boilerplate", f"""
WITH b AS (
  SELECT doc_id, CAST(i.idx AS INTEGER) AS block_idx,
     CASE i.idx
       WHEN 0 THEN 'home | products | about | contact | login ' || doc_id
       WHEN 1 THEN 'intro note ' || doc_id
       WHEN 2 THEN repeat('{_JT_G}', 5)
       WHEN 3 THEN 'aside ' || doc_id
       WHEN 4 THEN repeat('{_JT_H}', 4)
       WHEN 5 THEN '{_JT_G}now please ok'
       WHEN 6 THEN '{_JT_COPY}'
       ELSE '{_JT_G}thanks a lot'
     END AS block,
     CASE WHEN i.idx = 0 THEN 0.8 ELSE 0.0 END AS link_density
  FROM documents, (SELECT unnest(range(8)) AS idx) i),
f AS (
  SELECT doc_id, block_idx, link_density,
         length(block) AS n_chars,
         len(string_split_regex(lower(trim(block)), '\\s+')) AS n_words,
         len(list_filter(string_split_regex(lower(trim(block)), '\\s+'),
             t -> list_contains(['the','and','of','to','in','is','with','for'],
                                t))) AS n_stop
  FROM b),
cf AS (
  SELECT doc_id, block_idx, n_chars, n_words,
         round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stop_frac,
         CASE
           WHEN link_density > 0.2 THEN 'bad'
           WHEN n_chars < 70 AND link_density > 0 THEN 'bad'
           WHEN n_chars < 70 THEN 'short'
           WHEN CAST(n_stop AS DOUBLE) / n_words >= 0.32 THEN
                CASE WHEN n_chars > 200 THEN 'good' ELSE 'near_good' END
           WHEN CAST(n_stop AS DOUBLE) / n_words >= 0.30 THEN 'near_good'
           ELSE 'bad' END AS cf_class
  FROM f),
sm AS (
  SELECT *,
    coalesce(last_value(CASE WHEN cf_class IN ('good','bad') THEN cf_class END
                        IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY block_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      'bad') AS prev_edge,
    coalesce(first_value(CASE WHEN cf_class IN ('good','bad') THEN cf_class END
                         IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY block_idx
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
      'bad') AS next_edge
  FROM cf)
SELECT doc_id, block_idx,
       CAST(n_chars AS BIGINT) AS n_chars, CAST(n_words AS BIGINT) AS n_words,
       stop_frac, cf_class,
       CASE WHEN cf_class IN ('good','bad') THEN cf_class
            WHEN cf_class = 'near_good' THEN
              CASE WHEN prev_edge = 'good' OR next_edge = 'good'
                   THEN 'good' ELSE 'bad' END
            ELSE CASE WHEN prev_edge = 'good' AND next_edge = 'good'
                      THEN 'good' ELSE 'bad' END
       END AS class
FROM sm
""")
def q124(spark, sf_dir):
    """JusText-style boilerplate classification over synthesized pages
    whose 8 blocks hit every rule: link-density bad, boundary short→bad,
    long good, short-between-goods→good, medium near_good→good (good
    neighbour), stopword-free footer bad, trailing near_good→bad (both
    edges bad).  The oracle recomputes features, context-free classes
    AND the two-sided smoothing with its own windows."""
    from ultraviolet_spark.operators.boilerplate import justext_blocks

    d = F.col("doc_id").cast("string")

    def mk(idx, txt, ld=0.0):
        return F.struct(F.lit(idx).alias("block_idx"), txt.alias("block"),
                        F.lit(ld).alias("link_density"))

    blocks = [
        mk(0, F.concat(F.lit("home | products | about | contact | login "),
                       d), 0.8),
        mk(1, F.concat(F.lit("intro note "), d)),
        mk(2, F.repeat(F.lit(_JT_G), 5)),
        mk(3, F.concat(F.lit("aside "), d)),
        mk(4, F.repeat(F.lit(_JT_H), 4)),
        mk(5, F.lit(_JT_G + "now please ok")),
        mk(6, F.lit(_JT_COPY)),
        mk(7, F.lit(_JT_G + "thanks a lot")),
    ]
    bdf = (_t(spark, sf_dir, "documents")
           .select("doc_id", F.explode(F.array(*blocks)).alias("b"))
           .select("doc_id", "b.*"))
    return (justext_blocks(bdf)
            .select("doc_id", "block_idx", "n_chars", "n_words",
                    "stop_frac", "cf_class", "class"))


@q("q125_canonical_url", """
SELECT doc_id, CAST(i.c AS INTEGER) AS case_id,
  CASE i.c
    WHEN 0 THEN 'http://www.example.com/a/c/d.html?id=' || doc_id
    WHEN 1 THEN 'https://example.com/~user/Alpha/' || doc_id
    WHEN 2 THEN 'https://example.com:8080/p/%2Fq%3F/' || doc_id
    WHEN 3 THEN 'http://example.com/a/x?id=' || doc_id
    WHEN 4 THEN 'https://example.com/top/main'
    WHEN 5 THEN 'http://example.com/'
    WHEN 6 THEN NULL
    ELSE 'http://example.com/a//b/'
  END AS canon
FROM documents, (SELECT unnest(range(8)) AS c) i
""")
def q125(spark, sf_dir):
    """RFC 3986 canonical URLs over 8 synthesized cases per doc:
    tracking-param + fragment strip, default-port drop (non-default
    kept), unreserved percent-escapes decoded (%7E/%41) while reserved
    ones keep uppercased hex (%2F/%3F), dot-segment resolution (incl.
    leading ..), empty path → '/', malformed escape → NULL (junk must
    not kill the job), and empty segments preserved.  The oracle states
    each expected canonical string analytically — an independent
    restatement of the RFC rules, not a reimplementation."""
    from ultraviolet_spark.operators.urls import canonical_url

    d = F.col("doc_id").cast("string")
    tmpl = [
        F.concat(F.lit("HTTP://WWW.Example.COM:80/a/b/../c/./d.html"
                       "?utm_source=x&id="), d),
        F.concat(F.lit("https://example.com:443/%7euser/%41lpha/"), d),
        F.concat(F.lit("https://example.com:8080/p/%2fq%3f/"), d),
        F.concat(F.lit("http://example.com/a/b/c/../../x?id="), d,
                 F.lit("#frag")),
        F.lit("https://example.com/../top/%6Dain"),
        F.lit("http://example.com"),
        F.concat(F.lit("http://h.example.com/%zz/"), d),
        F.lit("http://example.com/a//b/"),
    ]
    cases = F.explode(F.array(*[
        F.struct(F.lit(i).alias("case_id"), t.alias("url"))
        for i, t in enumerate(tmpl)]))
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", cases.alias("c"))
            .select("doc_id", "c.case_id",
                    canonical_url(F.col("c.url")).alias("canon")))


@q("q126_mime_sniff", """
SELECT doc_id, CAST(i.c AS INTEGER) AS case_id,
  CASE i.c
    WHEN 0 THEN 'image/png'  WHEN 1 THEN 'image/png'
    WHEN 2 THEN 'image/gif'  WHEN 3 THEN 'image/jpeg'
    WHEN 4 THEN 'application/gzip'
    WHEN 5 THEN 'text/html'  WHEN 6 THEN 'text/html'
    WHEN 7 THEN 'text/plain'
    WHEN 8 THEN 'application/octet-stream'
    WHEN 9 THEN 'audio/wav'  WHEN 10 THEN 'image/webp'
    WHEN 11 THEN 'application/pdf'
    ELSE 'text/plain'
  END AS sniffed_mime,
  CASE i.c
    WHEN 0 THEN 'image/png'  WHEN 1 THEN 'text/html'
    WHEN 2 THEN 'image/gif'  WHEN 3 THEN 'image/png'
    WHEN 4 THEN 'application/gzip'
    WHEN 5 THEN 'text/html'  WHEN 6 THEN 'application/octet-stream'
    WHEN 7 THEN 'text/css'   WHEN 8 THEN 'text/plain'
    WHEN 9 THEN 'audio/wav'  WHEN 10 THEN 'image/webp'
    WHEN 11 THEN 'application/pdf'
    ELSE 'text/plain'
  END AS declared_mime,
  i.c NOT IN (1, 3, 6, 8) AS mime_ok
FROM documents, (SELECT unnest(range(13)) AS c) i
""")
def q126(spark, sf_dir):
    """WHATWG MIME sniffing over 13 synthesized payloads per doc —
    magic table (PNG/GIF/JPEG/gzip/RIFF-WAVE/RIFF-WEBP/PDF), the HTML
    tag test (incl. leading whitespace), BOM→text, NUL→binary — with
    deliberately lying Content-Type headers on cases 1/3/6/8 and the
    text-family tolerance on case 7.  The payload BYTES are built and
    sniffed on the Spark side; the oracle states the expected verdicts
    analytically (the declared essence re-derivation is shared)."""
    from ultraviolet_spark.operators.mime import with_mime_check

    d = F.col("doc_id").cast("string")
    txt = F.encode(F.concat(F.lit("payload "), d), "UTF-8")

    def mk(cid, payload, declared):
        return F.struct(F.lit(cid).alias("case_id"),
                        payload.alias("html"),
                        F.lit(declared).alias("content_type"))

    B = lambda hexs: F.unhex(F.lit(hexs))
    cases = [
        mk(0, F.concat(B("89504E470D0A1A0A"), txt), "image/png"),
        mk(1, F.concat(B("89504E470D0A1A0A"), txt),
           "Text/HTML; charset=utf-8"),
        mk(2, F.concat(B("474946383961"), txt), "image/gif; q=1"),
        mk(3, F.concat(B("FFD8FFE0"), txt), "image/png"),
        mk(4, F.concat(B("1F8B08"), txt), "application/gzip"),
        mk(5, F.encode(F.concat(F.lit("<!DOCTYPE html><p>hi "), d),
                       "UTF-8"), "text/html"),
        mk(6, F.encode(F.concat(F.lit("\n\t <html><body>x"), d),
                       "UTF-8"), "application/octet-stream"),
        mk(7, F.encode(F.concat(F.lit("hello plain text "), d),
                       "UTF-8"), "text/css"),
        mk(8, F.concat(B("000102"), txt), "text/plain"),
        mk(9, F.concat(B("524946461000000057415645"), txt), "audio/wav"),
        mk(10, F.concat(B("524946461000000057454250"), txt),
           "image/webp"),
        mk(11, F.concat(B("255044462D312E34"), txt), "application/pdf"),
        mk(12, F.concat(B("EFBBBF"), txt), "text/plain"),
    ]
    df = (_t(spark, sf_dir, "documents")
          .select("doc_id", F.explode(F.array(*cases)).alias("c"))
          .select("doc_id", "c.*"))
    return (with_mime_check(df)
            .select("doc_id", "case_id", "sniffed_mime", "declared_mime",
                    "mime_ok"))


@q("q127_wet_roundtrip", """
SELECT 'wet' || (doc_id % 13) || '.org' AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS bytes_total,
       MAX(TIMESTAMP '2026-02-01' + to_seconds(doc_id)) AS last_ts
FROM documents GROUP BY 1
""")
def q127(spark, sf_dir):
    """WET derived-format roundtrip — Common Crawl's extracted-text
    sidecar: documents become conversion records in md5(url)-sharded
    member-per-record .warc.wet.gz files (written DISTRIBUTED, one task
    per shard), read back through the binaryFile scan with the
    engine's own UTF-8 kernel decoding the payloads (zh docs make that
    non-trivial), rolled up per domain.  The oracle computes the rollup
    analytically from documents and never sees a WET byte — record
    framing, gzip members, kernel decode and byte-identity are all on
    the hook."""
    import tempfile

    from ultraviolet_spark.sources.warc import read_wet, write_wet

    d = F.col("doc_id")
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://wet"), (d % 13).cast("string"),
                 F.lit(".org/p/"), d.cast("string")).alias("url"),
        (F.lit("2026-02-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=d.cast("double"))).alias("warc_ts"),
        "text")
    out = tempfile.mkdtemp(prefix="uv_q127_")
    write_wet(pages, out, n_shards=4)
    wet = read_wet(spark, out)
    return (wet.select(
                F.regexp_extract("url", r"https://([^/]+)/", 1)
                 .alias("domain"),
                "text", "warc_ts")
            .groupBy("domain")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.sum(F.octet_length("text")).cast("long")
                  .alias("bytes_total"),
                 F.max("warc_ts").alias("last_ts")))


@q("q128_char_entropy", """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE length(text) > 0),
counts AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
per AS (
  SELECT doc_id,
         SUM(c) AS n,
         COUNT(*) AS d,
         SUM(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS s
  FROM counts GROUP BY doc_id)
SELECT d0.doc_id,
       CAST(COALESCE(per.n, 0) AS BIGINT) AS n_chars,
       CAST(COALESCE(per.d, 0) AS BIGINT) AS distinct_chars,
       COALESCE(round((per.n * CAST(round(ln(per.n) * 1e6) AS BIGINT)
                       - per.s) / (per.n * 1e6), 6), 0.0) AS entropy
FROM documents d0 LEFT JOIN per ON per.doc_id = d0.doc_id
""")
def q128(spark, sf_dir):
    """Character-level Shannon entropy quality signal over the real
    corpus text (zh docs exercise multibyte chars).  Integer micro-nat
    summing makes the per-doc aggregate exact, so the oracle rebuilds
    every entropy value bit-for-bit from its own char counts."""
    from ultraviolet_spark.operators.textstats import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


@q("q129_compression_ratio", None)
def q129(spark, sf_dir):
    """zlib compressibility signal (templated-spam gate).  No DuckDB
    deflate exists, so this is rows-only at the driver; the
    quantitative contract (exact equality to an independent
    python-zlib reference; repetitive ≪ prose ordering) lives in
    tests/test_textstats_multimodal.py."""
    from ultraviolet_spark.operators.textstats import compression_signals

    return (compression_signals(_t(spark, sf_dir, "documents"))
            .select("doc_id", "deflate_len", "compression_ratio"))


@q("q130_wat_roundtrip", """
SELECT doc_id,
       CAST(2 AS INTEGER) AS n_outlinks,
       'https://hub.org/a' || doc_id AS first_link,
       'Doc ' || doc_id AS title,
       CAST(octet_length(encode(
         '<html><head><title>Doc ' || doc_id || '</title></head><body>'
         || '<a href="https://hub.org/a' || doc_id || '">x</a>'
         || '<a href="/relative/' || doc_id || '">y</a>'
         || '<a href="https://spoke.net/b' || doc_id || '">z</a>'
         || text || '</body></html>')) AS BIGINT) AS html_bytes
FROM documents
""")
def q130(spark, sf_dir):
    """WAT metadata-sidecar roundtrip: synthesized pages (2 absolute +
    1 relative link, a title, the real document text as body) become
    metadata records with a pure-Catalyst JSON payload, sharded to
    .warc.wat.gz, read back through binaryFile + kernel decode +
    from_json.  The oracle restates outlink count/first link/title/byte
    size analytically from the same synthesis arithmetic — WARC
    framing, JSON roundtrip and the absolute-only link filter are all
    on the hook."""
    import tempfile

    from ultraviolet_spark.sources.warc import read_wat, write_wat

    d = F.col("doc_id")
    ds = d.cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), ds,
        F.lit("</title></head><body>"),
        F.lit('<a href="https://hub.org/a'), ds, F.lit('">x</a>'),
        F.lit('<a href="/relative/'), ds, F.lit('">y</a>'),
        F.lit('<a href="https://spoke.net/b'), ds, F.lit('">z</a>'),
        F.col("text"), F.lit("</body></html>"))
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://wat.org/p/"), ds).alias("url"),
        (F.lit("2026-03-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=d.cast("double"))).alias("warc_ts"),
        html.alias("html"))
    out = tempfile.mkdtemp(prefix="uv_q130_")
    write_wat(pages, out, n_shards=4)
    wat = read_wat(spark, out)
    return wat.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
         .alias("doc_id"),
        F.size("outlinks").alias("n_outlinks"),
        F.element_at("outlinks", 1).alias("first_link"),
        "title", "html_bytes")


@q("q131_weighted_sample", """
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         CAST(round(pow(
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                 AS UBIGINT) + 1) / 281474976710656.0,
           1.0 / n_chars) * 1e9) AS BIGINT) AS skey
  FROM documents WHERE n_chars > 0),
rk AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY skey DESC, doc_id) AS r
  FROM keyed)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM rk WHERE r <= 20
""")
def q131(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES keys u^(1/w) from md5-derived uniforms), top-20 per language
    weighted by document length.  Keys snap to integer nano-units so
    the oracle — which recomputes every key from the same md5
    arithmetic — ranks identically; ties break by doc_id."""
    from ultraviolet_spark.operators.corpus import sample_weighted

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang",
                                                 "n_chars")
    return (sample_weighted(docs, 20, weight_col="n_chars", by="lang")
            .select("doc_id", "lang", F.col("n_chars").cast("long")
                    .alias("n_chars")))


@q("q132_cdc_chunks", None)
def q132(spark, sf_dir):
    """Content-defined chunking over synthesized binary payloads (each
    doc's utf-8 text repeated to ≥4 KB, so cross-doc byte reuse
    exists): per-doc chunk/byte rollup.  The gear-hash boundary walk is
    not SQL-expressible — rows-only here; the exact contracts
    (reference-equality, bounds, shift resilience, dedup accounting)
    live in tests/test_cdc.py."""
    from ultraviolet_spark.operators.cdc import cdc_chunks

    d = _t(spark, sf_dir, "documents")
    blobs = d.select("doc_id", F.encode(F.repeat(
        F.concat(F.col("text"), F.lit("\n")), 8), "UTF-8").alias("html"))
    ch = cdc_chunks(blobs, min_size=256, avg_size=1024, max_size=4096)
    return (ch.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.sum("length").cast("long").alias("n_bytes"),
                 F.countDistinct("chunk_md5").cast("long")
                  .alias("n_distinct")))


@q("q133_hits_hubs_authorities", """
WITH e AS (
  SELECT DISTINCT doc_id % 101 AS src, (doc_id * 7 + 3) % 101 AS dst
  FROM documents
  UNION
  SELECT doc_id % 101, (doc_id * 13 + 5) % 101 FROM documents),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
a0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
h1s AS (SELECT e.src AS node, SUM(a0.r) AS r
        FROM e JOIN a0 ON a0.node = e.dst GROUP BY e.src),
h1f AS (SELECT n.node, COALESCE(h1s.r, 0) AS r
        FROM nodes n LEFT JOIN h1s ON h1s.node = n.node),
h1 AS (SELECT f.node, CASE WHEN t.s = 0 THEN f.r ELSE
         CAST((CAST(f.r AS HUGEINT) * t.n * 1000000) // t.s AS BIGINT)
       END AS r
       FROM h1f f, (SELECT SUM(r) AS s, COUNT(*) AS n FROM h1f) t),
a1s AS (SELECT e.dst AS node, SUM(h1.r) AS r
        FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
a1f AS (SELECT n.node, COALESCE(a1s.r, 0) AS r
        FROM nodes n LEFT JOIN a1s ON a1s.node = n.node),
a1 AS (SELECT f.node, CASE WHEN t.s = 0 THEN f.r ELSE
         CAST((CAST(f.r AS HUGEINT) * t.n * 1000000) // t.s AS BIGINT)
       END AS r
       FROM a1f f, (SELECT SUM(r) AS s, COUNT(*) AS n FROM a1f) t),
h2s AS (SELECT e.src AS node, SUM(a1.r) AS r
        FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
h2f AS (SELECT n.node, COALESCE(h2s.r, 0) AS r
        FROM nodes n LEFT JOIN h2s ON h2s.node = n.node),
h2 AS (SELECT f.node, CASE WHEN t.s = 0 THEN f.r ELSE
         CAST((CAST(f.r AS HUGEINT) * t.n * 1000000) // t.s AS BIGINT)
       END AS r
       FROM h2f f, (SELECT SUM(r) AS s, COUNT(*) AS n FROM h2f) t),
a2s AS (SELECT e.dst AS node, SUM(h2.r) AS r
        FROM e JOIN h2 ON h2.node = e.src GROUP BY e.dst),
a2f AS (SELECT n.node, COALESCE(a2s.r, 0) AS r
        FROM nodes n LEFT JOIN a2s ON a2s.node = n.node),
a2 AS (SELECT f.node, CASE WHEN t.s = 0 THEN f.r ELSE
         CAST((CAST(f.r AS HUGEINT) * t.n * 1000000) // t.s AS BIGINT)
       END AS r
       FROM a2f f, (SELECT SUM(r) AS s, COUNT(*) AS n FROM a2f) t)
SELECT h2.node, CAST(h2.r AS BIGINT) AS hub_micro,
       CAST(a2.r AS BIGINT) AS auth_micro
FROM h2 JOIN a2 ON a2.node = h2.node
""")
def q133(spark, sf_dir):
    """HITS hubs & authorities over the same deterministic 101-domain
    link graph as q96's PageRank: 2 full iterations, each half-step an
    integer renormalization to N·scale total (DECIMAL(38,0) / HUGEINT
    arithmetic) — bit-identical to the oracle's unrolled SQL regardless
    of partitioning or aggregation order.  Hub scores rank directory
    pages (seed lists), authority scores rank content pages."""
    from ultraviolet_spark.operators.graph import hits

    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = (d.select((F.col("doc_id") % 101).alias("src"),
                  ((F.col("doc_id") * 7 + 3) % 101).alias("dst"))
         .union(d.select((F.col("doc_id") % 101).alias("src"),
                         ((F.col("doc_id") * 13 + 5) % 101).alias("dst")))
         .distinct())
    return hits(e, iters=2)


@q("q134_random_projection", """
WITH ks AS (SELECT unnest(generate_series(0, 15)) AS k),
js AS (SELECT unnest(generate_series(0, 63)) AS j),
s AS (SELECT k, j,
        CASE WHEN CAST(('0x' || substr(md5(j || '_' || k), 1, 1))
                  AS UBIGINT) < 8 THEN 1 ELSE -1 END AS sgn
      FROM ks, js),
e AS (SELECT vec_id, js.j,
        CAST(floor(CAST(embedding[js.j + 1] AS DOUBLE) * 1000000)
             AS BIGINT) AS v
      FROM embeddings, js)
SELECT e.vec_id, s.k, CAST(SUM(s.sgn * e.v) AS BIGINT) AS proj_micro
FROM e JOIN s ON s.j = e.j GROUP BY e.vec_id, s.k
""")
def q134(spark, sf_dir):
    """Johnson–Lindenstrauss random projection 64→16 dims over the
    embeddings table: md5-derived ±1 matrix, integer micro-unit dot
    products — the oracle rebuilds the matrix and every projection
    bit-for-bit.  Zero shuffles, zero Python: the scale-right pre-step
    before ANN/clustering on wide embeddings.  Exploded to flat
    (vec_id, k, proj_micro) rows — the driver canonicalizer cannot
    hash array columns (r1 q30/q34 lesson)."""
    from ultraviolet_spark.operators.vectorize import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    proj = random_projection(emb, in_dim=64, out_dim=16)
    return proj.select("vec_id", F.posexplode("proj_micro")
                       .alias("k", "proj_micro"))


@q("q135_readability", """
WITH s AS (
  SELECT doc_id,
         GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sents
  FROM documents),
w AS (
  SELECT doc_id,
         regexp_replace(lower(unnest(string_split_regex(trim(text),
                                                        '\\s+'))),
                        '[^a-z]', '', 'g') AS w
  FROM documents),
ww AS (
  SELECT doc_id, w, len(regexp_extract_all(w, '[aeiouy]+')) AS g
  FROM w WHERE w <> ''),
agg AS (
  SELECT doc_id, COUNT(*) AS n_words,
         SUM(GREATEST(1, g - CASE WHEN g > 1 AND w LIKE '%e'
                                       AND w NOT LIKE '%le'
                                  THEN 1 ELSE 0 END)) AS n_syll
  FROM ww GROUP BY doc_id)
SELECT s.doc_id, CAST(s.n_sents AS BIGINT) AS n_sents,
  CAST(COALESCE(agg.n_words, 0) AS BIGINT) AS n_words,
  CAST(COALESCE(agg.n_syll, 0) AS BIGINT) AS n_syllables,
  CASE WHEN agg.n_words > 0 THEN
    round(206.835 - 1.015 * (CAST(agg.n_words AS DOUBLE) / s.n_sents)
                  - 84.6 * (CAST(agg.n_syll AS DOUBLE) / agg.n_words), 6)
  END AS flesch,
  CASE WHEN agg.n_words > 0 THEN
    round(0.39 * (CAST(agg.n_words AS DOUBLE) / s.n_sents)
          + 11.8 * (CAST(agg.n_syll AS DOUBLE) / agg.n_words) - 15.59, 6)
  END AS fk_grade
FROM s LEFT JOIN agg ON agg.doc_id = s.doc_id
""")
def q135(spark, sf_dir):
    """Flesch reading-ease + Flesch–Kincaid grade per document
    (vowel-group syllable heuristic with the silent-e rule): exact
    integer sentence/word/syllable counts, ratios as single
    identical-operand double divisions — the oracle recomputes every
    word's syllables from the same regex arithmetic."""
    from ultraviolet_spark.operators.textstats import readability_signals

    return readability_signals(_t(spark, sf_dir, "documents"))


_DHASH_BANDS_CTE = """
img AS (
  SELECT doc_id AS media_id,
         18 + ((doc_id // 2) % 3) * 9 AS w,
         16 + ((doc_id // 2) % 2) * 8 AS h
  FROM documents),
cell AS (
  SELECT media_id, w, h, gx.g AS gx, gy.g AS gy, w // 9 AS bw, h // 8 AS bh
  FROM img, (SELECT unnest(generate_series(0, 8)) AS g) gx,
            (SELECT unnest(generate_series(0, 7)) AS g) gy),
pxg AS (
  SELECT media_id, gx, gy, bw, bh,
         gx * bw + dx.d AS x, gy * bh + dy.d AS y
  FROM cell, (SELECT unnest(generate_series(0, 3)) AS d) dx,
             (SELECT unnest(generate_series(0, 2)) AS d) dy
  WHERE dx.d < bw AND dy.d < bh),
gr AS (
  SELECT media_id, gx, gy, bw, bh,
         ((media_id // 2) * 37 + 11 * x + 3 * y) % 200
         + CASE WHEN media_id % 2 = 1 AND x < 2 THEN 55 ELSE 0 END AS g
  FROM pxg),
m AS (
  SELECT media_id, gy, gx, SUM(g) // (bw * bh) AS m
  FROM gr GROUP BY media_id, gy, gx, bw, bh),
bits AS (
  SELECT a.media_id, a.gy, a.gx,
         CASE WHEN a.m > b.m THEN 1 ELSE 0 END AS bit
  FROM m a JOIN m b ON b.media_id = a.media_id AND b.gy = a.gy
                   AND b.gx = a.gx + 1
  WHERE a.gx < 8),
bands AS (
  SELECT media_id, CAST(gy // 2 AS INTEGER) AS band,
         CAST(SUM(bit << ((gy % 2) * 8 + gx)) AS BIGINT) AS value
  FROM bits GROUP BY media_id, gy // 2)
"""


@q("q136_image_dhash", f"""
WITH {_DHASH_BANDS_CTE}
SELECT media_id, 'bmp' AS kind, band, value FROM bands
""")
def q136(spark, sf_dir):
    """Perceptual image hashing (dHash, 9×8 grid → 64 bits as 4×16-bit
    bands) over REAL synthesized BMPs decoded by the pure-numpy codec:
    integer luma, integral-image box floor-means, right-neighbour
    comparison bits.  The oracle recomputes every band value from the
    synthesis formula and never sees a byte — a hash match proves the
    encoder, decoder, box geometry and bit packing all at once."""
    from ultraviolet_spark.operators.multimodal import (
        image_dhash, synthesize_dhash_bmp)

    media = synthesize_dhash_bmp(
        _t(spark, sf_dir, "documents").select("doc_id"))
    return image_dhash(media)


@q("q137_image_near_dup", f"""
WITH {_DHASH_BANDS_CTE}
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(SUM(bit_count(xor(a.value, b.value))) AS INTEGER) AS dist
FROM bands a JOIN bands b ON b.band = a.band AND a.media_id < b.media_id
GROUP BY a.media_id, b.media_id
HAVING SUM(bit_count(xor(a.value, b.value))) <= 3
""")
def q137(spark, sf_dir):
    """Image near-duplicate pairs at hamming distance ≤ 3 over the
    dHash: banded pigeonhole candidates (any pair at distance ≤ 3
    shares one of the 4 bands exactly) + bit_count(xor) verify — the
    corpus's brightness-perturbed twins land at distances 0–8, so the
    threshold genuinely splits them.  The oracle brute-forces all
    pairs; equality proves the banded path loses nothing."""
    from ultraviolet_spark.operators.multimodal import (
        dhash_hamming_pairs, image_dhash, synthesize_dhash_bmp)

    media = synthesize_dhash_bmp(
        _t(spark, sf_dir, "documents").select("doc_id"))
    return dhash_hamming_pairs(image_dhash(media), max_dist=3)


@q("q138_audio_frame_features", """
WITH au AS (
  SELECT doc_id AS media_id, 32 + doc_id % 17 AS n
  FROM documents WHERE doc_id % 2 = 1),
smp AS (
  SELECT media_id, k.k AS k,
         (media_id * 31 + k.k * 97) % 4001 - 2000 AS s,
         CAST(k.k // 16 AS INTEGER) AS frame
  FROM au, (SELECT unnest(generate_series(0, 48)) AS k) k
  WHERE k.k < n),
lagged AS (
  SELECT media_id, frame, s,
         LAG(s) OVER (PARTITION BY media_id, frame ORDER BY k) AS prev
  FROM smp)
SELECT media_id, frame, CAST(COUNT(*) AS INTEGER) AS n,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       CAST(SUM(CASE WHEN prev IS NOT NULL
                      AND (s >= 0) <> (prev >= 0) THEN 1 ELSE 0 END)
            AS INTEGER) AS zcr
FROM lagged GROUP BY media_id, frame
""")
def q138(spark, sf_dir):
    """Framewise audio features (16-sample frames: integer energy
    Σs², zero-crossing count) over REAL synthesized PCM WAVs decoded
    by the pure-numpy codec — speech/music/silence segmentation
    signals.  The oracle regenerates the sample stream analytically
    and windows it in SQL; exact integer equality proves the WAV
    round-trip and the frame arithmetic."""
    from ultraviolet_spark.operators.multimodal import (
        audio_frame_features, synthesize_media)

    ids = (_t(spark, sf_dir, "documents").select("doc_id")
           .filter(F.col("doc_id") % 2 == 1))
    return audio_frame_features(synthesize_media(ids), frame=16)


@q("q139_bloom_semi_join", """
SELECT l.l_returnflag, COUNT(*) AS n_items,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      AS sum_price
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey
                AND o.o_totalprice > 400000)
GROUP BY l.l_returnflag
""")
def q139(spark, sf_dir):
    """Runtime-filtered semi-join: lineitem pruned against a Bloom
    filter of the expensive-order keys via k broadcast word-joins (big
    side never shuffles before the join), then the exact semi-join —
    result identical to a plain EXISTS, plan shaped for a petabyte
    probe side.  The oracle is the plain semi-join; equality proves
    the filter admits every match and the verify drops every false
    positive."""
    from ultraviolet_spark.operators.sketches import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    hot = (_t(spark, sf_dir, "orders")
           .filter(F.col("o_totalprice") > 400000))
    pruned = bloom_semi_join(li, hot, big_col="l_orderkey",
                             small_col="o_orderkey", n_bits=2 ** 16)
    return (pruned.groupBy("l_returnflag")
            .agg(F.count("*").alias("n_items"),
                 F.sum(_dec("l_extendedprice")).cast("double")
                  .alias("sum_price")))


@q("q140_multi_source_pit", """
SELECT e.event_id, e.user_id, e.ts,
       c.value AS last_click_value,
       v.value AS last_view_value,
       s.ts AS signup_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts >= c.ts
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON e.user_id = v.user_id AND e.ts >= v.ts
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON e.user_id = s.user_id AND e.ts >= s.ts
""")
def q140(spark, sf_dir):
    """Multi-source point-in-time enrichment — the feature-store
    pattern: one spine (purchases) as-of-joined against THREE feature
    sources (last click value, last view value, signup time), each ≤
    the spine timestamp, composed left-to-right so the spine keeps its
    grain.  Each hop is the engine's window as-of; DuckDB's
    native chained ASOF JOIN is the independent oracle."""
    ev = _t(spark, sf_dir, "events")

    def src(kind, col, alias):
        return (ev.filter(F.col("event_type") == kind)
                .select("user_id", "ts", F.col(col).alias(alias)))

    spine = (ev.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "ts"))
    out = asof_join(spine, src("click", "value", "last_click_value"),
                    on="ts", by="user_id",
                    value_cols=["last_click_value"])
    out = asof_join(out, src("view", "value", "last_view_value"),
                    on="ts", by="user_id",
                    value_cols=["last_view_value"])
    sg = (ev.filter(F.col("event_type") == "signup")
          .select("user_id", F.col("ts").alias("__sg_ts"),
                  F.col("ts").alias("signup_ts")))
    out = asof_join(out, sg.withColumnRenamed("__sg_ts", "ts")
                    .select("user_id", "ts", "signup_ts"),
                    on="ts", by="user_id", value_cols=["signup_ts"])
    return out.select("event_id", "user_id", "ts", "last_click_value",
                      "last_view_value", "signup_ts")
