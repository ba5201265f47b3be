"""Registry chunk: round-5 association / agreement / trend additions
(q360+).

New chunk module opened in round 5 (stats_c approached the 3000-line
cap).  Registration order is preserved by the import sequence in
queries/__init__.py; the shared decorator/registry live in _shared.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ultraviolet_spark.queries._shared import (  # noqa: F401
    REGISTRY,
    QuerySpec,
    _dec,
    _t,
    q,
)


@q("q360_mood_median", """
WITH base AS (
  SELECT event_type AS g, CAST(round(value * 1e6) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
cg AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
       FROM base GROUP BY g, v),
pv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS m FROM cg GROUP BY v),
tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM pv),
r AS (SELECT v, m,
        COALESCE(CAST(SUM(m) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS r0
      FROM pv),
m2t AS (SELECT
    (SELECT MIN(v) FROM r, tot
     WHERE r0 < (n + 1) // 2 AND (n + 1) // 2 <= r0 + m)
  + (SELECT MIN(v) FROM r, tot
     WHERE r0 < (n + 2) // 2 AND (n + 2) // 2 <= r0 + m) AS m2),
pg AS (SELECT g,
         CAST(SUM(CASE WHEN 2 * v > m2 THEN c ELSE 0 END) AS BIGINT)
           AS a,
         CAST(SUM(c) AS BIGINT) AS ng
       FROM cg, m2t GROUP BY g),
tt AS (SELECT CAST(SUM(a) AS BIGINT) AS atot,
              CAST(SUM(ng) AS BIGINT) AS nn FROM pg),
tg AS (SELECT g,
    CAST((CAST(nn AS HUGEINT) * a - CAST(ng AS HUGEINT) * atot)
         * (CAST(nn AS HUGEINT) * a - CAST(ng AS HUGEINT) * atot)
         AS DOUBLE)
      / NULLIF(CAST(CAST(nn AS HUGEINT) * ng * atot AS DOUBLE), 0)
  + CAST((CAST(nn AS HUGEINT) * (ng - a)
          - CAST(ng AS HUGEINT) * (nn - atot))
         * (CAST(nn AS HUGEINT) * (ng - a)
            - CAST(ng AS HUGEINT) * (nn - atot)) AS DOUBLE)
      / NULLIF(CAST(CAST(nn AS HUGEINT) * ng * (nn - atot)
                    AS DOUBLE), 0) AS t
  FROM pg, tt),
fold AS (SELECT CAST(COUNT(*) AS INTEGER) AS k,
                list_reduce(list_prepend(0.0, list(t ORDER BY g)),
                            (a, b) -> a + b) AS chi
         FROM tg)
SELECT k, nn AS n, m2 AS median_x2, atot AS n_above,
  CASE WHEN k >= 2 AND atot > 0 AND atot < nn THEN round(chi, 6)
  END AS chi2
FROM fold, tt, m2t
""")
def q360(spark, sf_dir):
    """Mood's median test across event-type value distributions — the
    coarsest rung of the k-sample location ladder under q336's
    Kruskal–Wallis: every value reduces to one above-the-pooled-median
    bit, so nothing a heavy tail does can move the statistic.  The
    pooled doubled median comes off the shared two-phase bucketed
    cumulative machinery as an exact integer; the 2×k chi² is the
    all-integer (N·a−n·A)²/(N·n·A) per-cell form summed by the
    ordered group fold."""
    from ultraviolet_spark.operators.stats import mood_median_test

    return mood_median_test(_t(spark, sf_dir, "events"),
                            value_col="value", group_col="event_type")


def _q361_sql() -> str:
    """Page's L oracle: q324's doubled within-block ranks weighted by
    the declared treatment position, no-tie null moments."""
    items = ["m0", "m1", "m2"]
    rank_exprs = []
    for j, mj in enumerate(items):
        below = " + ".join(
            f"(CASE WHEN {ml} < {mj} THEN 1 ELSE 0 END)"
            for ml in items)
        tied = " + ".join(
            f"(CASE WHEN {ml} = {mj} THEN 1 ELSE 0 END)"
            for ml in items)
        rank_exprs.append(
            f"CAST(2 * ({below}) + ({tied}) + 1 AS BIGINT) AS a{j}")
    k = 3
    var_unit = float(k * k * (k + 1) * (k * k - 1)) / 144.0
    return f"""
WITH per AS (
  SELECT user_id,
    CAST(round(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
               END) AS DOUBLE) * 1e6) AS BIGINT) AS m0,
    CAST(round(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
               END) AS DOUBLE) * 1e6) AS BIGINT) AS m1,
    CAST(round(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
               END) AS DOUBLE) * 1e6) AS BIGINT) AS m2
  FROM events GROUP BY user_id),
rk AS (SELECT {', '.join(rank_exprs)} FROM per),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(a0 AS HUGEINT)) AS r0,
    SUM(CAST(a1 AS HUGEINT)) AS r1,
    SUM(CAST(a2 AS HUGEINT)) AS r2
  FROM rk),
e AS (SELECT n, 1 * r0 + 2 * r1 + 3 * r2 AS l2 FROM agg)
SELECT n, CAST({k} AS INT) AS k, CAST(l2 AS BIGINT) AS l2,
  CASE WHEN n > 0 THEN
    round(CAST(l2 - CAST(n AS HUGEINT) * {k * (k + 1) * (k + 1) // 2}
               AS DOUBLE)
          / NULLIF(2.0 * sqrt(CAST(n AS DOUBLE) * {var_unit!r}), 0), 6)
  END AS z
FROM e
"""


@q("q361_page_trend", _q361_sql())
def q361(spark, sf_dir):
    """Page's L over each user's (click, view, purchase) activity
    ranks with the declared order click < view < purchase — the
    ordered-alternative companion of q324's Friedman (as q340's JT is
    to q336's KW): position-weighted doubled rank totals keep L2 and
    the centered numerator exact integers; one double division by the
    closed-form no-tie null sd (the standard Page convention,
    documented in the operator)."""
    from ultraviolet_spark.operators.stats import page_trend_test

    per = (_t(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(*[F.sum(F.when(F.col("event_type") == t, 1)
                        .otherwise(0)).cast("double").alias(a)
                  for t, a in [("click", "x0"), ("view", "x1"),
                               ("purchase", "x2")]]))
    return page_trend_test(per, cols=["x0", "x1", "x2"])


@q("q362_lins_ccc", """
WITH per AS (
  SELECT user_id,
    CAST(round(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
               END) AS DOUBLE) * 1e6) AS BIGINT) AS x,
    CAST(round(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
               END) AS DOUBLE) * 1e6) AS BIGINT) AS y
  FROM events GROUP BY user_id),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
    SUM(CAST(x AS HUGEINT) * x) AS sxx,
    SUM(CAST(y AS HUGEINT) * y) AS syy,
    SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM per),
e AS (SELECT n,
        2 * (CAST(n AS HUGEINT) * sxy - sx * sy) AS num,
        (CAST(n AS HUGEINT) * sxx - sx * sx)
          + (CAST(n AS HUGEINT) * syy - sy * sy)
          + (sx - sy) * (sx - sy) AS den
      FROM agg)
SELECT n,
  CASE WHEN den <> 0 THEN
    round(CAST(num AS DOUBLE) / NULLIF(CAST(den AS DOUBLE), 0), 6)
  END AS ccc
FROM e
""")
def q362(spark, sf_dir):
    """Lin's concordance correlation between each user's click and
    view counts — continuous-paired AGREEMENT completing the family
    (κ nominal q176, weighted κ ordinal q354, Krippendorff α q358):
    unlike Pearson's r it penalizes scale/location shifts off the 45°
    line.  Both sides ×n² make every term an exact DECIMAL(38,0)
    integer; one double division."""
    from ultraviolet_spark.operators.stats import lins_ccc

    per = (_t(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                      .otherwise(0)).cast("double").alias("x"),
                F.sum(F.when(F.col("event_type") == "view", 1)
                      .otherwise(0)).cast("double").alias("y")))
    return lins_ccc(per, x_col="x", y_col="y")


@q("q363_theil_u", """
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source),
ma AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM cells GROUP BY a),
mb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM cells GROUP BY b),
tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM cells),
mi AS (
  SELECT CAST(SUM(CAST(round(
           CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE)
           * CAST(CAST(round((ln(CAST(CAST(n AS HUGEINT)
                                     * n_ab AS DOUBLE))
                              - ln(CAST(CAST(n_a AS HUGEINT)
                                        * n_b AS DOUBLE))) * 1e6)
                       AS BIGINT) AS DOUBLE)) AS BIGINT))
         AS BIGINT) AS mi_micro
  FROM cells JOIN ma USING (a) JOIN mb USING (b), tot),
ha AS (
  SELECT CAST(SUM(CAST(round(
           CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE)
           * CAST(CAST(round((ln(CAST(n AS DOUBLE))
                              - ln(CAST(n_a AS DOUBLE))) * 1e6)
                       AS BIGINT) AS DOUBLE)) AS BIGINT))
         AS BIGINT) AS h_a_micro
  FROM ma, tot),
hb AS (
  SELECT CAST(SUM(CAST(round(
           CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)
           * CAST(CAST(round((ln(CAST(n AS DOUBLE))
                              - ln(CAST(n_b AS DOUBLE))) * 1e6)
                       AS BIGINT) AS DOUBLE)) AS BIGINT))
         AS BIGINT) AS h_b_micro
  FROM mb, tot)
SELECT n, mi_micro, h_a_micro, h_b_micro,
  round(CAST(mi_micro AS DOUBLE)
        / NULLIF(CAST(h_a_micro AS DOUBLE), 0), 6) AS u_a_given_b,
  round(CAST(mi_micro AS DOUBLE)
        / NULLIF(CAST(h_b_micro AS DOUBLE), 0), 6) AS u_b_given_a,
  round(2.0 * CAST(mi_micro AS DOUBLE)
        / NULLIF(CAST(h_a_micro + h_b_micro AS DOUBLE), 0), 6) AS u_sym
FROM mi, ha, hb, tot
""")
def q363(spark, sf_dir):
    """Theil's uncertainty coefficient over document lang×source — the
    normalized, [0,1], ASYMMETRIC view of q262's mutual information
    (U(A|B) = I/H(A)), comparable across tables where raw nats and
    even Cramér's V (symmetric) are not: the µ-nat snap-before-sum
    discipline applied to I, H(A), H(B), then three single
    divisions."""
    from ultraviolet_spark.operators.stats import theil_u

    return theil_u(_t(spark, sf_dir, "documents"),
                   a_col="lang", b_col="source")


@q("q364_gk_lambda", """
WITH cells AS (
  SELECT lang AS x, source AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source),
mx AS (SELECT CAST(SUM(m) AS BIGINT) AS sum_mx
       FROM (SELECT MAX(n_xy) AS m FROM cells GROUP BY x)),
my AS (SELECT CAST(SUM(m) AS BIGINT) AS sum_my
       FROM (SELECT MAX(n_xy) AS m FROM cells GROUP BY y)),
rx AS (SELECT CAST(MAX(s) AS BIGINT) AS mode_x
       FROM (SELECT SUM(n_xy) AS s FROM cells GROUP BY x)),
ry AS (SELECT CAST(MAX(s) AS BIGINT) AS mode_y
       FROM (SELECT SUM(n_xy) AS s FROM cells GROUP BY y)),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells)
SELECT n,
  CASE WHEN n > mode_y THEN
    round(CAST(sum_mx - mode_y AS DOUBLE)
          / NULLIF(CAST(n - mode_y AS DOUBLE), 0), 6)
  END AS lambda_y_given_x,
  CASE WHEN n > mode_x THEN
    round(CAST(sum_my - mode_x AS DOUBLE)
          / NULLIF(CAST(n - mode_x AS DOUBLE), 0), 6)
  END AS lambda_x_given_y,
  CASE WHEN 2 * n > mode_x + mode_y THEN
    round(CAST(sum_mx + sum_my - mode_x - mode_y AS DOUBLE)
          / NULLIF(CAST(2 * n - mode_x - mode_y AS DOUBLE), 0), 6)
  END AS lambda_sym
FROM tot, mx, my, rx, ry
""")
def q364(spark, sf_dir):
    """Goodman–Kruskal λ over document lang×source — the modal-guess
    ("proportional reduction in error") member of the nominal
    dependence triple next to q333's Cramér's V and q363's Theil U;
    reporting all three is the point, since λ can be exactly 0 under
    real dependence when every conditional mode equals the marginal
    mode.  Pure integers until three final divisions."""
    from ultraviolet_spark.operators.stats import gk_lambda

    return gk_lambda(_t(spark, sf_dir, "documents"),
                     x_col="lang", y_col="source")


@q("q365_stuart_tau_c", """
WITH per AS (
  SELECT user_id,
         LEAST(SUM(CASE WHEN event_type = 'click'
                        THEN 1 ELSE 0 END), 10) AS x,
         LEAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END), 10) AS y
  FROM events GROUP BY user_id),
cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n
          FROM per GROUP BY x, y),
dims AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                CAST(COUNT(DISTINCT x) AS BIGINT) AS r,
                CAST(COUNT(DISTINCT y) AS BIGINT) AS c FROM cells),
p AS (SELECT a.x AS xa, a.y AS ya, a.n AS na,
             b.x AS xb, b.y AS yb, b.n AS nb
      FROM cells a, cells b),
agg AS (
  SELECT
    COALESCE(SUM(CASE WHEN xa < xb AND ya < yb
                      THEN CAST(na AS HUGEINT) * nb END), 0) AS cc,
    COALESCE(SUM(CASE WHEN xa < xb AND ya > yb
                      THEN CAST(na AS HUGEINT) * nb END), 0) AS dd
  FROM p),
e AS (SELECT nn, LEAST(r, c) AS m, cc, dd FROM agg, dims)
SELECT nn AS n, CAST(m AS INT) AS m,
  CAST(cc AS BIGINT) AS c, CAST(dd AS BIGINT) AS d,
  CASE WHEN m >= 2 THEN
    round(CAST(2 * CAST(m AS HUGEINT) * (cc - dd) AS DOUBLE)
          / NULLIF(CAST(CAST(nn AS HUGEINT) * nn * (m - 1)
                        AS DOUBLE), 0), 6)
  END AS tau_c
FROM e
""")
def q365(spark, sf_dir):
    """Stuart's τ-c between per-user capped click and purchase counts
    (q345's ordinal pair) — the rectangular-table completion of the
    concordance family: γ ignores ties, Somers' D penalizes one side,
    τ-c's min(r,c)/(min(r,c)−1) normalization reaches ±1 on
    non-square tables where τ-b structurally cannot.  Same
    metadata-sized cell-pair grid, one double division."""
    from ultraviolet_spark.operators.stats import stuart_tau_c

    per = (_t(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(F.least(F.sum(F.when(F.col("event_type") == "click", 1)
                              .otherwise(0)), F.lit(10)).alias("x"),
                F.least(F.sum(F.when(F.col("event_type") == "purchase",
                                     1).otherwise(0)),
                        F.lit(10)).alias("y")))
    return stuart_tau_c(per, x_col="x", y_col="y")


from ultraviolet_spark.queries.stats_c import _Q96_EDGES_CTE  # noqa: E402


@q("q366_rich_club", f"""
WITH {_Q96_EDGES_CTE},
t AS (SELECT unnest([1, 2, 3, 4, 6, 8]) AS k),
nk AS (SELECT k, CAST(SUM(CASE WHEN d > k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_k
       FROM deg, t GROUP BY k),
j AS (SELECT a, b, da.d AS da, db.d AS db
      FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
ek AS (SELECT k, CAST(SUM(CASE WHEN da > k AND db > k THEN 1 ELSE 0
                          END) AS BIGINT) AS e_k
       FROM j, t GROUP BY k)
SELECT nk.k, n_k, e_k,
  CASE WHEN n_k >= 2 THEN
    round(CAST(2 * e_k AS DOUBLE)
          / NULLIF(CAST(n_k * (n_k - 1) AS DOUBLE), 0), 6)
  END AS phi
FROM nk JOIN ek USING (k)
""")
def q366(spark, sf_dir):
    """Rich-club coefficient of the q96 domain graph per degree
    threshold — do high-degree domains preferentially interlink
    beyond what their degrees force (the hub-subgraph density view
    next to q348's one-number assortativity and q239's k-core
    membership): exact integer N_k/E_k per threshold off one degree
    agg + the |thresholds|-row literal frame, one division each."""
    from ultraviolet_spark.operators.graph import rich_club

    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = (d.select((F.col("doc_id") % 101).alias("src"),
                  ((F.col("doc_id") * 7 + 3) % 101).alias("dst"))
         .unionAll(d.select(
             (F.col("doc_id") % 101).alias("src"),
             ((F.col("doc_id") * 13 + 5) % 101).alias("dst")))
         .distinct())
    return rich_club(e, thresholds=[1, 2, 3, 4, 6, 8])


@q("q367_partition_modularity", f"""
WITH {_Q96_EDGES_CTE},
lab AS (SELECT node, d, CAST(node % 7 AS VARCHAR) AS c FROM deg),
dc AS (SELECT c, CAST(SUM(d) AS BIGINT) AS dcs FROM lab GROUP BY c),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
ec AS (SELECT la.c AS c, CAST(COUNT(*) AS BIGINT) AS ecs
       FROM und JOIN lab la ON la.node = a JOIN lab lb ON lb.node = b
       WHERE la.c = lb.c GROUP BY la.c),
per AS (SELECT dc.c, dc.dcs, COALESCE(ec.ecs, 0) AS ecs
        FROM dc LEFT JOIN ec USING (c)),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               SUM(4 * CAST(m AS HUGEINT) * ecs
                   - CAST(dcs AS HUGEINT) * dcs) AS num
        FROM per, mm)
SELECT m, n_communities,
  CASE WHEN m > 0 THEN
    round(CAST(num AS DOUBLE)
          / NULLIF(CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE), 0), 6)
  END AS q_modularity
FROM agg, mm
""")
def q367(spark, sf_dir):
    """Newman modularity of a GIVEN partition (node % 7 communities)
    of the q96 domain graph — the score every community detector
    optimizes, exposed so any labelling (q246's propagation output, a
    TLD grouping, a shard map) grades on one scale: per-community
    numerators 4m·e_c − d_c² exact DECIMAL(38,0) integers whose sum
    is order-independent, ONE final division by 4m²."""
    from ultraviolet_spark.operators.graph import partition_modularity

    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = (d.select((F.col("doc_id") % 101).alias("src"),
                  ((F.col("doc_id") * 7 + 3) % 101).alias("dst"))
         .unionAll(d.select(
             (F.col("doc_id") % 101).alias("src"),
             ((F.col("doc_id") * 13 + 5) % 101).alias("dst")))
         .distinct())
    parts = spark.range(101).select(
        F.col("id").alias("node"),
        (F.col("id") % 7).cast("string").alias("community"))
    return partition_modularity(e, parts)


@q("q368_turning_points", """
WITH base AS (
  SELECT user_id AS k, ts, event_id,
         CAST(round(value * 1e6) AS BIGINT) AS v
  FROM events),
st AS (
  SELECT k, v,
         lag(v) OVER w AS pv, lead(v) OVER w AS nv
  FROM base WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
g AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
                   AND ((v > pv AND v > nv) OR (v < pv AND v < nv))
             THEN 1 ELSE 0 END) AS BIGINT) AS turns
  FROM st GROUP BY k)
SELECT k AS user_id, n, turns,
  CASE WHEN n >= 3 AND 16 * n - 29 > 0 THEN
    round(CAST(3 * turns - 2 * (n - 2) AS DOUBLE)
          / NULLIF(3.0 * sqrt(CAST(16 * n - 29 AS DOUBLE) / 90.0), 0),
          6)
  END AS z
FROM g
""")
def q368(spark, sf_dir):
    """Turning-points randomness test per user over event values —
    the SHAPE companion of q325's runs test (binary flags) and
    q326's Durbin–Watson (lag-1 linear): i.i.d. series turn at 2/3
    of interior points, trends turn almost never, alternation at
    every point.  Exact integer turn counts over the (ts, event_id)
    total order, exact centered numerator 3T − 2(n−2), one double
    division by the closed-form sd."""
    from ultraviolet_spark.operators.stats import turning_points_by_key

    return turning_points_by_key(_t(spark, sf_dir, "events"),
                                 by="user_id", order_col="ts",
                                 value_col="value",
                                 tiebreak_col="event_id")


@q("q369_heading_outline", """
WITH d AS (SELECT doc_id AS i FROM documents)
SELECT 'https://h.example/p/' || i AS id,
  CAST(1 + CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END
         + CASE WHEN i % 2 = 0 THEN 2 ELSE 1 END
         + CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
    AS n_headings,
  CAST(1 + CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_h1,
  CAST(CASE WHEN i % 5 = 0 THEN 6 ELSE 1 END AS INTEGER)
    AS first_level,
  CAST(CASE WHEN i % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS max_skip
FROM d
""")
def q369(spark, sf_dir):
    """Heading-outline profile (operators/htmltables.heading_outline)
    over pages synthesized in Catalyst with a known structure — an
    optional leading h6, an h1, a clean h2→h3 run on even pages vs an
    h1→h3 LEVEL SKIP on odd ones, a second h1 on every third page;
    the oracle recomputes counts, first level and the maximum
    downward jump analytically per doc_id."""
    from ultraviolet_spark.operators.htmltables import heading_outline

    i = F.col("doc_id")
    blank = F.lit("")
    html = F.concat(
        F.when(i % 5 == 0, F.lit("<h6 class='x'>p</h6>"))
         .otherwise(blank),
        F.lit("<h1>t</h1>"),
        F.when(i % 2 == 0, F.lit("<h2>a</h2><h3>b</h3>"))
         .otherwise(F.lit("<h3>c</h3>")),
        F.when(i % 3 == 0, F.lit("<h1>z</h1>")).otherwise(blank))
    pages = (_t(spark, sf_dir, "documents")
             .select(F.concat(F.lit("https://h.example/p/"), i)
                     .alias("url"), html.alias("html")))
    return heading_outline(pages)


@q("q370_img_alt_coverage", """
WITH d AS (SELECT doc_id AS i FROM documents),
e AS (
  SELECT 'https://a.example/p/' || i AS id,
    CASE WHEN i % 11 = 0 THEN 0
         ELSE 1 + CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END
                + CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END
                + CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END
    END AS n_imgs,
    CASE WHEN i % 11 = 0 THEN 0 ELSE 1 END AS n_with_alt
  FROM d)
SELECT id, CAST(n_imgs AS BIGINT) AS n_imgs,
  CAST(n_with_alt AS BIGINT) AS n_with_alt,
  CASE WHEN n_imgs > 0 THEN
    round(CAST(n_with_alt AS DOUBLE) / CAST(n_imgs AS DOUBLE), 6)
  END AS coverage
FROM e
""")
def q370(spark, sf_dir):
    """Image alt-text coverage (htmltables.img_alt_coverage) over
    pages synthesized with the wild variants on the hook: one real
    alt per page, a bare <img> on even pages, a data-alt DECOY on
    every third (the q338 anchored-attribute rule — a bare word
    boundary would count it), an explicit alt="" decorative marker on
    every fourth (counts as NOT covered), and imageless pages on
    every eleventh (NULL coverage)."""
    from ultraviolet_spark.operators.htmltables import img_alt_coverage

    i = F.col("doc_id")
    blank = F.lit("")
    html = F.when(i % 11 == 0, F.lit("<p>no images</p>")).otherwise(
        F.concat(
            F.lit("<img src='a.jpg' alt='pic "), i, F.lit("'>"),
            F.when(i % 2 == 0, F.lit('<img src="b.jpg">'))
             .otherwise(blank),
            F.when(i % 3 == 0,
                   F.lit('<img data-alt="x" src="c.jpg">'))
             .otherwise(blank),
            F.when(i % 4 == 0, F.lit('<img src="d.jpg" alt="">'))
             .otherwise(blank)))
    pages = (_t(spark, sf_dir, "documents")
             .select(F.concat(F.lit("https://a.example/p/"), i)
                     .alias("url"), html.alias("html")))
    return img_alt_coverage(pages)


@q("q371_asof_nearest_tolerance", """
WITH l AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'click'),
r AS (SELECT user_id, ts, MAX(value) AS p_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts),
c AS (SELECT l.user_id, l.event_id,
             ABS(epoch_us(l.ts) - epoch_us(r.ts)) AS ad,
             epoch_us(r.ts) AS rts, r.p_value
      FROM l JOIN r ON r.user_id = l.user_id
      WHERE ABS(epoch_us(l.ts) - epoch_us(r.ts)) <= 7200000000),
p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_id
                                   ORDER BY ad, rts) AS rn
      FROM c)
SELECT l.user_id, l.event_id, l.ts, p.p_value
FROM l LEFT JOIN p ON p.user_id = l.user_id
                  AND p.event_id = l.event_id AND p.rn = 1
""")
def q371(spark, sf_dir):
    """NEAREST-direction as-of join with a ±2 h tolerance — the third
    face of THE core operator (backward = q15/q51, forward = q209's
    leakage probe): every click is enriched with the closest purchase
    in EITHER direction within tolerance, ties to the BACKWARD
    candidate (the pandas merge_asof convention, pinned empirically
    and replayed by the oracle's (|Δ|, right-ts) ordering).  The right
    side is deduped to one row per (user, ts) first — nearest is
    ill-defined under duplicate right timestamps (they resolve in no
    defined order), so the operator contract requires uniqueness."""
    from ultraviolet_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts")
    r = (ev.filter(F.col("event_type") == "purchase")
         .groupBy("user_id", "ts")
         .agg(F.max("value").alias("p_value")))
    return asof_join(l, r, on="ts", by="user_id",
                     value_cols=["p_value"], direction="nearest",
                     tolerance="2 hours")


@q("q372_jarque_bera", """
WITH base AS (
  SELECT event_type AS g, CAST(round(value * 1e2) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
p1 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS BIGINT) AS s1
       FROM base GROUP BY g),
p2 AS (SELECT g, n, s1 // n AS mu0, s1 % n AS r FROM p1),
t AS (SELECT b.g, MAX(p2.n) AS n, MAX(p2.r) AS rr,
        SUM(CAST(b.x - p2.mu0 AS HUGEINT)) AS t1,
        SUM(CAST(b.x - p2.mu0 AS HUGEINT) * (b.x - p2.mu0)) AS t2,
        SUM(CAST(b.x - p2.mu0 AS HUGEINT) * (b.x - p2.mu0)
            * (b.x - p2.mu0)) AS t3,
        SUM(CAST(b.x - p2.mu0 AS HUGEINT) * (b.x - p2.mu0)
            * (b.x - p2.mu0) * (b.x - p2.mu0)) AS t4
      FROM base b JOIN p2 ON p2.g = b.g GROUP BY b.g),
e AS (SELECT g, n,
        CAST(n AS DOUBLE) AS nd,
        CAST(rr AS DOUBLE) / CAST(n AS DOUBLE) AS dl,
        CAST(t1 AS DOUBLE) AS t1d, CAST(t2 AS DOUBLE) AS t2d,
        CAST(t3 AS DOUBLE) AS t3d, CAST(t4 AS DOUBLE) AS t4d
      FROM t),
mm AS (SELECT g, n, nd,
        (t2d - 2.0 * dl * t1d + nd * dl * dl) / nd AS m2,
        (t3d - 3.0 * dl * t2d + 3.0 * dl * dl * t1d
         - nd * dl * dl * dl) / nd AS m3,
        (t4d - 4.0 * dl * t3d + 6.0 * dl * dl * t2d
         - 4.0 * dl * dl * dl * t1d + nd * dl * dl * dl * dl) / nd
          AS m4
       FROM e),
s AS (SELECT g, n, nd, m2,
        m3 / NULLIF(m2 * sqrt(m2), 0) AS g1,
        m4 / NULLIF(m2 * m2, 0) - 3.0 AS g2
      FROM mm)
SELECT g AS event_type, n,
  CASE WHEN n >= 3 AND m2 > 0 THEN round(g1, 6) END AS skew,
  CASE WHEN n >= 3 AND m2 > 0 THEN round(g2, 6) END AS kurt_excess,
  CASE WHEN n >= 3 AND m2 > 0 THEN
    round(nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 6)
  END AS jb
FROM s
""")
def q372(spark, sf_dir):
    """Jarque–Bera normality per event type — the distribution-SHAPE
    gate in front of every moment-based procedure (q299/q301 assume
    roughly Gaussian errors; JB says when that's fiction): two-pass
    integer-mean centering keeps all four centered power sums exact
    DECIMAL(38,0) integers (cent snap — µ-snap 4th powers overflow),
    the δ-shift correction and skew/kurtosis run as ONE fixed-order
    double chain per moment, replayed operand-for-operand by the
    oracle."""
    from ultraviolet_spark.operators.stats import jarque_bera_by_group

    return jarque_bera_by_group(_t(spark, sf_dir, "events"),
                                value_col="value",
                                group_col="event_type")


@q("q373_welch_anova", """
WITH base AS (
  SELECT event_type AS g, CAST(round(value * 1e6) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
               SUM(CAST(x AS HUGEINT)) AS s1,
               SUM(CAST(x AS HUGEINT) * x) AS s2
        FROM base GROUP BY g),
lst AS (SELECT CAST(COUNT(*) AS INTEGER) AS k,
         CAST(SUM(ng) AS BIGINT) AS n,
         MIN(ng) AS minn,
         MIN(CAST(CAST(ng AS HUGEINT) * s2 - s1 * s1 AS DOUBLE))
           AS minv,
         list(struct_pack(
             nd := CAST(ng AS DOUBLE),
             mean := CAST(s1 AS DOUBLE) / CAST(ng AS DOUBLE),
             var := CAST(CAST(ng AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                    / (CAST(ng AS DOUBLE) * CAST(ng - 1 AS DOUBLE)))
           ORDER BY g) AS a
        FROM per),
w1 AS (SELECT *,
        list_reduce(list_prepend(0.0, list_transform(a,
            s -> s.nd / s.var)), (x, y) -> x + y) AS bw,
        list_reduce(list_prepend(0.0, list_transform(a,
            s -> s.nd / s.var * s.mean)), (x, y) -> x + y) AS swm
       FROM lst),
w2 AS (SELECT *, swm / NULLIF(bw, 0) AS xw FROM w1),
w3 AS (SELECT *,
        list_reduce(list_prepend(0.0, list_transform(a,
            s -> s.nd / s.var * (s.mean - xw) * (s.mean - xw))),
            (x, y) -> x + y) AS asum,
        list_reduce(list_prepend(0.0, list_transform(a,
            s -> (1.0 - s.nd / s.var / bw)
                 * (1.0 - s.nd / s.var / bw) / (s.nd - 1.0))),
            (x, y) -> x + y) AS lam
       FROM w2),
f AS (SELECT k, n, minn, minv, lam,
        (asum / (CAST(k AS DOUBLE) - 1.0))
          / NULLIF(1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
                   / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                   * lam, 0) AS fstat,
        (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
          / NULLIF(3.0 * lam, 0) AS dd2
      FROM w3)
SELECT k, n,
  CASE WHEN k >= 2 AND minn >= 2 AND minv > 0 THEN round(fstat, 6)
  END AS f_stat,
  CASE WHEN k >= 2 THEN CAST(k - 1 AS BIGINT) END AS df1,
  CASE WHEN k >= 2 AND minn >= 2 AND minv > 0 THEN round(dd2, 6)
  END AS df2
FROM f
""")
def q373(spark, sf_dir):
    """Welch's heteroscedastic one-way ANOVA across event-type value
    distributions — k-group q299, completing the location ladder
    (q301 classical ANOVA assumes the equal variances q317 tests for;
    Welch never pools): exact per-group DECIMAL(38,0) (n, S1, S2),
    every cross-group sum an ordered fold over the sorted group
    array, replayed by the oracle's list_transform/list_reduce
    chains."""
    from ultraviolet_spark.operators.stats import welch_anova

    return welch_anova(_t(spark, sf_dir, "events"),
                       value_col="value", group_col="event_type")


@q("q374_by_fdr", """
WITH users AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid
               FROM events),
batt AS (
  SELECT uid AS test_id,
         CASE WHEN (((strpos('0123456789abcdef',
                      substring(md5(uid || 'sig'), 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef',
                      substring(md5(uid || 'sig'), 2, 1)) - 1)) < 26)
              THEN (CAST(CAST(('0x' || substr(md5(uid || ':' || 'p'),
                                              1, 12)) AS UBIGINT)
                    AS BIGINT) // 281474977) // 1000
              ELSE CAST(CAST(('0x' || substr(md5(uid || ':' || 'p'),
                                             1, 12)) AS UBIGINT)
                   AS BIGINT) // 281474977
         END AS p_micro
  FROM users),
ranked AS (
  SELECT test_id, p_micro,
         CAST(ROW_NUMBER() OVER (ORDER BY p_micro, test_id) AS BIGINT)
           AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM batt),
hs AS (SELECT CAST(SUM(CAST(round(1000000.0 / CAST(i AS DOUBLE))
                            AS BIGINT)) AS BIGINT) AS cmu
       FROM ranked),
h AS (
  SELECT ranked.*, hs.cmu,
         (CAST(p_micro AS HUGEINT) * m * 20 * cmu
          <= CAST(i AS HUGEINT) * 1 * 1000000
             * CAST(1000000 AS HUGEINT)) AS hit,
         CAST(round(CAST(m AS DOUBLE) * CAST(p_micro AS DOUBLE)
                    / CAST(i AS DOUBLE)
                    * (CAST(cmu AS DOUBLE) / 1000000.0)) AS BIGINT)
           AS q_raw
  FROM ranked, hs),
k AS (SELECT MAX(CASE WHEN hit THEN i END) AS k FROM h),
sfx AS (
  SELECT test_id, p_micro, i, m, q_raw,
         MIN(q_raw) OVER (ORDER BY i DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS q_sfx
  FROM h)
SELECT sfx.test_id, round(CAST(sfx.p_micro AS DOUBLE) / 1e6, 6) AS p,
       sfx.i AS rnk, sfx.m,
       (k.k IS NOT NULL AND sfx.i <= COALESCE(k.k, -1)) AS rejected,
       round(CAST(LEAST(sfx.q_sfx, 1000000) AS DOUBLE) / 1e6, 6)
         AS q_value
FROM sfx, k
""")
def q374(spark, sf_dir):
    """Benjamini–Yekutieli FDR over q276's identical battery — the
    ARBITRARY-dependence correction (per-key tests on overlapping
    windows/shared traffic are NOT independent; BY divides α by the
    harmonic number c(m), paid as extra conservatism): c(m) is
    computed off the ranked battery itself as the exact integer
    micro-sum Σ round(10⁶/i), so the step-up rule stays all-integer;
    running BH (q276) and BY on the same battery shows exactly which
    discoveries survive the dependence tax."""
    from ultraviolet_spark.operators.corpus import md5_bucket256
    from ultraviolet_spark.operators.stats import bh_fdr

    users = (_t(spark, sf_dir, "events")
             .select(F.col("user_id").cast("string").alias("uid"))
             .distinct())
    u48 = F.conv(F.substring(F.md5(
        F.concat_ws(":", F.col("uid"), F.lit("p")).cast("binary")),
        1, 12), 16, 10).cast("long")
    sig = md5_bucket256(F.col("uid"), "sig") < 26
    batt = (users.withColumn("__u48", u48)
            .withColumn("__pm0", F.expr("__u48 div 281474977"))
            .withColumn("__pm", F.when(sig, F.expr("__pm0 div 1000"))
                        .otherwise(F.col("__pm0")))
            .select("uid",
                    (F.col("__pm").cast("double") / F.lit(1e6))
                    .alias("p")))
    out = bh_fdr(batt, p_col="p", id_col="uid",
                 alpha_num=1, alpha_den=20, yekutieli=True)
    return out.withColumnRenamed("rank", "rnk")


@q("q375_jains_fairness", """
WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS x
             FROM documents WHERE source IS NOT NULL GROUP BY source),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               SUM(CAST(x AS HUGEINT)) AS s,
               SUM(CAST(x AS HUGEINT) * x) AS s2
        FROM per)
SELECT n_groups, CAST(s AS BIGINT) AS total,
  CASE WHEN n_groups > 0 AND s2 > 0 THEN
    round(CAST(s * s AS DOUBLE)
          / NULLIF(CAST(CAST(n_groups AS HUGEINT) * s2 AS DOUBLE), 0),
          6)
  END AS fairness
FROM agg
""")
def q375(spark, sf_dir):
    """Jain's fairness index over per-source document allocation —
    the scheduler's one-number evenness score next to q294's Gini
    (inequality) and q256's water-filling (enforcement): exact
    DECIMAL(38,0) Σx and Σx², one double division."""
    from ultraviolet_spark.operators.stats import jains_fairness

    return jains_fairness(_t(spark, sf_dir, "documents"), by="source")


@q("q376_decision_stump", """
WITH base AS (
  SELECT CAST(round(value * 1e6) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL),
pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS m,
              CAST(SUM(y) AS BIGINT) AS p
       FROM base GROUP BY v),
tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
               CAST(SUM(p) AS BIGINT) AS np FROM pv),
c AS (SELECT v,
        CAST(SUM(m) OVER w AS BIGINT) AS nl,
        CAST(SUM(p) OVER w AS BIGINT) AS pl
      FROM pv WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW)),
g AS (SELECT v, nl, pl, n, np FROM c, tot WHERE nl < n),
e AS (SELECT v, nl, pl, n, np,
  CAST(round((
    (ln(CAST(n AS DOUBLE))
     - ((CASE WHEN np > 0 THEN CAST(np AS DOUBLE)
              * ln(CAST(np AS DOUBLE)) ELSE 0.0 END)
        + (CASE WHEN n - np > 0 THEN CAST(n - np AS DOUBLE)
                * ln(CAST(n - np AS DOUBLE)) ELSE 0.0 END))
       / CAST(n AS DOUBLE))
    - (CAST(nl AS DOUBLE)
       * (ln(CAST(nl AS DOUBLE))
          - ((CASE WHEN pl > 0 THEN CAST(pl AS DOUBLE)
                   * ln(CAST(pl AS DOUBLE)) ELSE 0.0 END)
             + (CASE WHEN nl - pl > 0 THEN CAST(nl - pl AS DOUBLE)
                     * ln(CAST(nl - pl AS DOUBLE)) ELSE 0.0 END))
            / CAST(nl AS DOUBLE))
       + CAST(n - nl AS DOUBLE)
       * (ln(CAST(n - nl AS DOUBLE))
          - ((CASE WHEN np - pl > 0 THEN CAST(np - pl AS DOUBLE)
                   * ln(CAST(np - pl AS DOUBLE)) ELSE 0.0 END)
             + (CASE WHEN (n - nl) - (np - pl) > 0
                     THEN CAST((n - nl) - (np - pl) AS DOUBLE)
                     * ln(CAST((n - nl) - (np - pl) AS DOUBLE))
                     ELSE 0.0 END))
            / CAST(n - nl AS DOUBLE)))
      / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS gain
  FROM g),
mx AS (SELECT MAX(gain) AS gmax FROM e),
win AS (SELECT MIN(v) AS threshold_micro FROM e, mx WHERE gain = gmax)
SELECT t.n, t.np AS n_pos, w.threshold_micro, mx.gmax AS gain_micro,
       e.nl AS n_left, e.pl AS pos_left
FROM e JOIN win w ON e.v = w.threshold_micro, mx, tot t
""")
def q376(spark, sf_dir):
    """One-split decision stump on event value predicting
    is-purchase — exact information-gain training (the per-feature
    screening score CART/GBDT pipelines rank by, PLUS the usable
    threshold; q205's χ² only ranks): split candidates through the
    shared two-phase prefix machinery, per-candidate gains snapped to
    integer µ-nats BEFORE the argmax, ties to the smallest threshold
    via two one-row frames (never a global window)."""
    from ultraviolet_spark.operators.stats import decision_stump

    return decision_stump(
        _t(spark, sf_dir, "events"), feature_col="value",
        label_expr="CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")


@q("q377_two_prop_ztest", """
WITH agg AS (SELECT
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_a,
  CAST(SUM(CASE WHEN event_type = 'click' AND value > 100
           THEN 1 ELSE 0 END) AS BIGINT) AS s_a,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_b,
  CAST(SUM(CASE WHEN event_type = 'view' AND value > 100
           THEN 1 ELSE 0 END) AS BIGINT) AS s_b
  FROM events WHERE event_type IN ('click', 'view')),
e AS (SELECT *,
        CAST(s_a AS HUGEINT) * n_b - CAST(s_b AS HUGEINT) * n_a
          AS dn,
        CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
      FROM agg),
f AS (SELECT *,
        abs(CAST(dn AS DOUBLE)) / NULLIF(nad * nbd, 0) AS absdiff,
        0.5 * (1.0 / nad + 1.0 / nbd) AS cc,
        CAST(s_a + s_b AS DOUBLE)
          / NULLIF(CAST(n_a + n_b AS DOUBLE), 0) AS pbar
      FROM e)
SELECT n_a, s_a, n_b, s_b,
  CASE WHEN n_a > 0 THEN
    round(CAST(s_a AS DOUBLE) / NULLIF(nad, 0), 6) END AS p_a,
  CASE WHEN n_b > 0 THEN
    round(CAST(s_b AS DOUBLE) / NULLIF(nbd, 0), 6) END AS p_b,
  CASE WHEN n_a > 0 AND n_b > 0 AND s_a + s_b > 0
        AND s_a + s_b < n_a + n_b THEN
    round((CASE WHEN dn > 0 THEN 1.0 WHEN dn < 0 THEN -1.0
           ELSE 0.0 END)
          * GREATEST(absdiff - cc, 0.0)
          / NULLIF(sqrt(pbar * (1.0 - pbar)
                        * (1.0 / nad + 1.0 / nbd)), 0), 6)
  END AS z
FROM f
""")
def q377(spark, sf_dir):
    """Two-proportion z-test (pooled, Yates-corrected) for the
    high-value rate of clicks vs views — the unpaired A/B basic next
    to q328's per-arm Wilson intervals and q318's paired McNemar:
    exact integer counts, the difference numerator cleared to the
    exact DECIMAL(38,0) integer s_a·n_b − s_b·n_a, the corrected
    numerator clamped at zero, one fixed-order double chain."""
    from ultraviolet_spark.operators.stats import two_prop_ztest

    return two_prop_ztest(_t(spark, sf_dir, "events"),
                          group_col="event_type", group_a="click",
                          group_b="view",
                          success_expr="CASE WHEN value > 100 "
                                       "THEN 1 ELSE 0 END")


@q("q378_cliffs_delta", """
WITH base AS (
  SELECT CAST(round(value * 1e6) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS g
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
per AS (SELECT v,
          CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT)
            AS ca,
          CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT)
            AS cb
        FROM base GROUP BY v),
tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
               CAST(SUM(cb) AS BIGINT) AS nb FROM per),
c AS (SELECT v, ca, cb,
        CAST(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cumb
      FROM per),
u AS (SELECT CAST(SUM(ca * (2 * (cumb - cb) + cb)) AS BIGINT) AS u2
      FROM c),
e AS (SELECT na, nb, u2,
        CAST(u2 - na * nb AS DOUBLE)
          / NULLIF(CAST(na * nb AS DOUBLE), 0) AS d
      FROM u, tot)
SELECT na AS n_a, nb AS n_b, u2 AS u2_a,
  CASE WHEN na > 0 AND nb > 0 THEN round(d, 6) END AS delta,
  CASE WHEN na > 0 AND nb > 0 THEN
    CASE WHEN abs(d) < 0.147 THEN 'negligible'
         WHEN abs(d) < 0.33 THEN 'small'
         WHEN abs(d) < 0.474 THEN 'medium'
         ELSE 'large' END
  END AS magnitude
FROM e
""")
def q378(spark, sf_dir):
    """Cliff's δ between click and purchase value distributions — the
    ordinal effect-size companion of q253's Mann–Whitney (is-there vs
    how-big, unit-free and outlier-immune): derived with one division
    from the exact doubled half-credit U the shared two-phase rank
    machinery computes, plus the conventional magnitude bucket
    applied to the identical unrounded double in both engines."""
    from ultraviolet_spark.operators.stats import cliffs_delta

    return cliffs_delta(_t(spark, sf_dir, "events"), value_col="value",
                        group_col="event_type", group_a="click",
                        group_b="purchase")


@q("q379_link_profile", """
WITH d AS (SELECT doc_id AS i FROM documents),
e AS (
  SELECT 'https://h' || (i % 7) || '.example/p/' || i AS id,
    1 + CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END
      + CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END
      + CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END
      + CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END AS n_links,
    CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END
      + CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END AS n_external,
    CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END AS n_nofollow
  FROM d)
SELECT id, CAST(n_links AS BIGINT) AS n_links,
  CAST(n_links - n_external AS BIGINT) AS n_internal,
  CAST(n_external AS BIGINT) AS n_external,
  CAST(n_nofollow AS BIGINT) AS n_nofollow
FROM e
""")
def q379(spark, sf_dir):
    """Outlink profile (htmltables.link_profile) over pages
    synthesized with the wild variants on the hook: a relative link
    (internal), a same-host absolute (internal — host compared
    against the page's OWN url host), an external nofollow, a plain
    external, and a fragment link carrying a data-href DECOY (the
    anchored-attribute rule again).  The oracle recomputes the four
    counts analytically per doc_id."""
    from ultraviolet_spark.operators.htmltables import link_profile

    i = F.col("doc_id")
    blank = F.lit("")
    host = F.concat(F.lit("h"), (i % 7).cast("string"),
                    F.lit(".example"))
    html = F.concat(
        F.lit('<a href="/rel1">a</a>'),
        F.when(i % 2 == 0, F.concat(
            F.lit('<a href="https://'), host,
            F.lit('/abs">b</a>'))).otherwise(blank),
        F.when(i % 3 == 0,
               F.lit("<a rel='nofollow' "
                     "href='https://other.example/c'>c</a>"))
         .otherwise(blank),
        F.when(i % 4 == 0,
               F.lit('<a href="https://ext2.example/d">d</a>'))
         .otherwise(blank),
        F.when(i % 5 == 0,
               F.lit('<a data-href="https://fake.example" '
                     'href="#frag">e</a>')).otherwise(blank))
    pages = (_t(spark, sf_dir, "documents")
             .select(F.concat(F.lit("https://"), host, F.lit("/p/"), i)
                     .alias("url"), html.alias("html")))
    return link_profile(pages)


@q("q380_page_weight", """
WITH d AS (SELECT doc_id AS i FROM documents),
e AS (
  SELECT 'https://w.example/p/' || i AS id,
    CAST(17 + (10 + i % 20) AS BIGINT) AS script_chars,
    CASE WHEN i % 2 = 0 THEN CAST(15 + (5 + i % 10) AS BIGINT)
         ELSE 0 END AS style_chars,
    CASE WHEN i % 3 = 0 THEN CAST(7 + (3 + i % 5) AS BIGINT)
         ELSE 0 END AS comment_chars,
    CAST(7 + (1 + i % 30) + 8 AS BIGINT) AS body_chars
  FROM d)
SELECT id,
  CAST(script_chars + style_chars + comment_chars + body_chars
       AS BIGINT) AS total_chars,
  script_chars, style_chars, comment_chars,
  round(CAST(script_chars + style_chars + comment_chars AS DOUBLE)
        / CAST(script_chars + style_chars + comment_chars + body_chars
               AS DOUBLE), 6) AS payload_share
FROM e
""")
def q380(spark, sf_dir):
    """Page-weight profile (htmltables.page_weight_profile) over
    pages synthesized from fixed-arithmetic blocks — a script of
    known length on every page, a style block on even pages, a
    comment on every third, plus a body paragraph — so the oracle
    recomputes every byte count and the payload share analytically
    per doc_id."""
    from ultraviolet_spark.operators.htmltables import (
        page_weight_profile,
    )

    i = F.col("doc_id")
    blank = F.lit("")
    # '<script>' (8) + 'var a;' padding of 10+i%20 a's + '</script>' (9)
    script = F.concat(F.lit("<script>"),
                      F.expr("repeat('a', 10 + CAST(doc_id % 20 AS INT))"),
                      F.lit("</script>"))
    style = F.when(i % 2 == 0, F.concat(
        F.lit("<style>"),
        F.expr("repeat('s', 5 + CAST(doc_id % 10 AS INT))"),
        F.lit("</style>"))).otherwise(blank)
    comment = F.when(i % 3 == 0, F.concat(
        F.lit("<!--"),
        F.expr("repeat('c', 3 + CAST(doc_id % 5 AS INT))"),
        F.lit("-->"))).otherwise(blank)
    body = F.concat(F.lit("<p>body"),
                    F.expr("repeat('b', 1 + CAST(doc_id % 30 AS INT))"),
                    F.lit("</p><hr>"))
    html = F.concat(script, style, comment, body)
    pages = (_t(spark, sf_dir, "documents")
             .select(F.concat(F.lit("https://w.example/p/"), i)
                     .alias("url"), html.alias("html")))
    return page_weight_profile(pages)


@q("q381_multi_horizon_pit", """
WITH l AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'click'),
r AS (SELECT user_id, ts, MAX(value) AS pv
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts),
h1 AS (SELECT l.user_id, l.event_id, r.pv,
         ROW_NUMBER() OVER (PARTITION BY l.user_id, l.event_id
                            ORDER BY r.ts DESC) AS rn
       FROM l JOIN r ON r.user_id = l.user_id
        AND epoch_us(r.ts) <= epoch_us(l.ts) - 3600000000),
h2 AS (SELECT l.user_id, l.event_id, r.pv,
         ROW_NUMBER() OVER (PARTITION BY l.user_id, l.event_id
                            ORDER BY r.ts DESC) AS rn
       FROM l JOIN r ON r.user_id = l.user_id
        AND epoch_us(r.ts) <= epoch_us(l.ts) - 86400000000)
SELECT l.user_id, l.event_id, l.ts,
       a.pv AS pv_1h, b.pv AS pv_24h
FROM l
LEFT JOIN h1 a ON a.user_id = l.user_id
              AND a.event_id = l.event_id AND a.rn = 1
LEFT JOIN h2 b ON b.user_id = l.user_id
              AND b.event_id = l.event_id AND b.rn = 1
""")
def q381(spark, sf_dir):
    """Multi-horizon point-in-time features (asof.multi_horizon_asof):
    every click enriched with the last purchase value as of one hour
    ago AND as of one day ago — the feature-store lag-vector staple,
    leakage-free by construction (each horizon is a backward as-of
    against forward-shifted right timestamps); the right side is
    deduped per (user, ts) per the q371 determinism contract.  The
    oracle replays each horizon with a per-left-row DESC row_number
    over the ≤ t−Δ candidates."""
    from ultraviolet_spark.operators.asof import multi_horizon_asof

    ev = _t(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts")
    r = (ev.filter(F.col("event_type") == "purchase")
         .groupBy("user_id", "ts")
         .agg(F.max("value").alias("pv")))
    return multi_horizon_asof(
        l, r, on="ts", by="user_id", value_cols=["pv"],
        horizons=[("1h", "INTERVAL 1 HOUR"),
                  ("24h", "INTERVAL 24 HOURS")])


@q("q382_wilcoxon_signed_rank", """
WITH per AS (
  SELECT user_id,
    CAST(round(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
               END) AS DOUBLE) * 1e6) AS BIGINT) AS x,
    CAST(round(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
               END) AS DOUBLE) * 1e6) AS BIGINT) AS y
  FROM events GROUP BY user_id),
dd AS (SELECT x - y AS d FROM per),
zc AS (SELECT CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero FROM dd),
pv AS (SELECT abs(d) AS v, CAST(COUNT(*) AS BIGINT) AS m,
              CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS p
       FROM dd WHERE d <> 0 GROUP BY abs(d)),
tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM pv),
r AS (SELECT v, m, p,
        COALESCE(CAST(SUM(m) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS r0
      FROM pv),
agg AS (SELECT SUM(CAST(p AS HUGEINT) * (2 * r0 + m + 1)) AS w2,
               SUM(CAST(m AS HUGEINT) * m * m - m) AS tie
        FROM r)
SELECT n, n_zero, CAST(w2 AS BIGINT) AS w2_plus,
  CASE WHEN n > 0
        AND 2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie > 0
  THEN
    round(CAST(w2 - CAST(n AS HUGEINT) * (n + 1) // 2 AS DOUBLE)
          / NULLIF(sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1)
                             * (2 * n + 1) - tie AS DOUBLE) / 12.0),
                   0), 6)
  END AS z
FROM agg, tot, zc
""")
def q382(spark, sf_dir):
    """Wilcoxon signed-rank over each user's paired (click, view)
    activity — the powered sibling of q319's sign test (direction AND
    distance, distribution-free) and the paired counterpart of
    q253's Mann–Whitney: zero differences excluded and counted,
    doubled |d|-midranks off the shared two-phase machinery keep
    W2⁺, the null mean and the tie-corrected variance core exact
    DECIMAL(38,0) integers; one double division."""
    from ultraviolet_spark.operators.stats import wilcoxon_signed_rank

    per = (_t(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                      .otherwise(0)).cast("double").alias("x"),
                F.sum(F.when(F.col("event_type") == "view", 1)
                      .otherwise(0)).cast("double").alias("y")))
    return wilcoxon_signed_rank(per, x_col="x", y_col="y")


@q("q383_cohens_h", """
WITH agg AS (SELECT
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_a,
  CAST(SUM(CASE WHEN event_type = 'click' AND value > 100
           THEN 1 ELSE 0 END) AS BIGINT) AS s_a,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_b,
  CAST(SUM(CASE WHEN event_type = 'view' AND value > 100
           THEN 1 ELSE 0 END) AS BIGINT) AS s_b
  FROM events WHERE event_type IN ('click', 'view')),
e AS (SELECT *,
        2.0 * asin(sqrt(CAST(s_a AS DOUBLE)
                        / NULLIF(CAST(n_a AS DOUBLE), 0)))
        - 2.0 * asin(sqrt(CAST(s_b AS DOUBLE)
                          / NULLIF(CAST(n_b AS DOUBLE), 0))) AS h
      FROM agg)
SELECT n_a, s_a, n_b, s_b,
  CASE WHEN n_a > 0 AND n_b > 0 THEN round(h, 6) END AS h,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    CASE WHEN abs(h) < 0.2 THEN 'small'
         WHEN abs(h) < 0.5 THEN 'medium'
         ELSE 'large' END
  END AS magnitude
FROM e
""")
def q383(spark, sf_dir):
    """Cohen's h for the high-value rate of clicks vs views — the
    arcsine-stabilized proportion effect size completing q377's
    two-proportion z (is-there vs how-big, thresholds that transfer
    across base rates): one fixed-order double chain over exact
    counts, magnitude bucket on the identical unrounded |h|."""
    from ultraviolet_spark.operators.stats import cohens_h

    return cohens_h(_t(spark, sf_dir, "events"),
                    group_col="event_type", group_a="click",
                    group_b="view",
                    success_expr="CASE WHEN value > 100 "
                                 "THEN 1 ELSE 0 END")


@q("q384_correlation_ratio", """
WITH base AS (
  SELECT event_type AS g, CAST(round(value * 1e6) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
               SUM(CAST(x AS HUGEINT)) AS s1,
               SUM(CAST(x AS HUGEINT) * x) AS s2
        FROM base GROUP BY g),
lst AS (SELECT CAST(COUNT(*) AS INTEGER) AS k,
         CAST(SUM(ng) AS BIGINT) AS n,
         SUM(s1) AS gs1, SUM(s2) AS gs2,
         list(CAST(CAST(ng AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
              / CAST(ng AS DOUBLE) ORDER BY g) AS w
        FROM per),
e AS (SELECT k, n,
        list_reduce(list_prepend(0.0, w), (x, y) -> x + y) AS ssw,
        CAST(CAST(n AS HUGEINT) * gs2 - gs1 * gs1 AS DOUBLE)
          / CAST(n AS DOUBLE) AS sst
      FROM lst)
SELECT k, n,
  CASE WHEN k >= 1 AND sst > 0 THEN
    round(1.0 - ssw / NULLIF(sst, 0), 6)
  END AS eta_sq
FROM e
""")
def q384(spark, sf_dir):
    """Correlation ratio η² of event value on event type — HOW MUCH
    of the value variance the category explains (the effect-size view
    of q301's ANOVA; the categorical-x-continuous-y member of the
    dependence family next to Cramér's V and Theil's U): exact
    DECIMAL(38,0) within/total variance numerators, one double
    division per group summed by the ordered fold, one final
    ratio."""
    from ultraviolet_spark.operators.stats import correlation_ratio

    return correlation_ratio(_t(spark, sf_dir, "events"),
                             value_col="value",
                             group_col="event_type")


@q("q385_daily_periodogram", """
WITH base AS (
  SELECT event_type AS g,
         CAST(round(value * 1e6) AS BIGINT) AS x,
         CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS tsec
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL),
t AS (SELECT g,
        CAST(round(CAST(x AS DOUBLE) * cos(7.27220521664304e-05 * tsec))
             AS BIGINT) AS c,
        CAST(round(CAST(x AS DOUBLE) * sin(7.27220521664304e-05 * tsec))
             AS BIGINT) AS s,
        abs(x) AS ax
      FROM base),
agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS c_micro,
               CAST(SUM(s) AS BIGINT) AS s_micro,
               CAST(SUM(ax) AS BIGINT) AS axs
        FROM t GROUP BY g)
SELECT g AS event_type, n, c_micro, s_micro,
  CASE WHEN axs > 0 THEN
    round((CAST(c_micro AS DOUBLE) * c_micro
           + CAST(s_micro AS DOUBLE) * s_micro)
          / NULLIF(CAST(axs AS DOUBLE) * axs, 0), 6)
  END AS r2
FROM agg
""")
def q385(spark, sf_dir):
    """Periodogram power at the daily line per event type
    (stats.periodogram_power) — the frequency-domain seasonality
    detector next to q283's anomalies / q304's Holt-Winters / q350's
    linear time-of-day KS: the snap-before-sum discipline applied to
    trigonometry makes the weighted cos/sin totals order-independent
    integers both engines agree on bit-for-bit."""
    from ultraviolet_spark.operators.stats import periodogram_power

    return periodogram_power(_t(spark, sf_dir, "events"),
                             ts_col="ts", value_col="value",
                             group_col="event_type")


@q("q386_rayleigh_uniformity", """
WITH base AS (
  SELECT event_type AS g,
         CAST(round(cos(7.27220521664304e-05 * (CAST(epoch_us(ts) AS DOUBLE)
                                     / 1e6)) * 1e6) AS BIGINT) AS c,
         CAST(round(sin(7.27220521664304e-05 * (CAST(epoch_us(ts) AS DOUBLE)
                                     / 1e6)) * 1e6) AS BIGINT) AS s
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS cs,
               CAST(SUM(s) AS BIGINT) AS ss
        FROM base GROUP BY g),
e AS (SELECT g, n,
        CAST(cs AS DOUBLE) / 1e6 AS cd,
        CAST(ss AS DOUBLE) / 1e6 AS sd
      FROM agg)
SELECT g AS event_type, n,
  CASE WHEN n > 0 THEN
    round(sqrt(cd * cd + sd * sd)
          / NULLIF(CAST(n AS DOUBLE), 0), 6) END AS rbar,
  CASE WHEN n > 0 THEN
    round(CAST(n AS DOUBLE)
          * (sqrt(cd * cd + sd * sd)
             / NULLIF(CAST(n AS DOUBLE), 0))
          * (sqrt(cd * cd + sd * sd)
             / NULLIF(CAST(n AS DOUBLE), 0)), 6) END AS z
FROM e
""")
def q386(spark, sf_dir):
    """Rayleigh circular-uniformity test of event time-of-day per
    type (stats.rayleigh_test) — the CLOCK view completing q350's
    LINE view (a midnight-straddling clump that KS splits in half is
    caught whole): unit-weight snapped cos/sin sums, fixed-order
    resultant length and z = n·R̄²."""
    from ultraviolet_spark.operators.stats import rayleigh_test

    return rayleigh_test(_t(spark, sf_dir, "events"), ts_col="ts",
                         group_col="event_type")


@q("q387_g_test", """
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM documents GROUP BY lang, source),
ma AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM cells GROUP BY a),
mb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM cells GROUP BY b),
tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT b) AS BIGINT) AS c FROM cells),
w AS (
  SELECT n_ab,
         CAST(round((ln(CAST(CAST(n AS HUGEINT) * n_ab AS DOUBLE))
                     - ln(CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)))
                    * 1e6) AS BIGINT) AS pmi
  FROM cells JOIN ma USING (a) JOIN mb USING (b), tot),
agg AS (SELECT CAST(SUM(n_ab * pmi) AS BIGINT) AS core FROM w)
SELECT n, r, c,
  CASE WHEN r >= 2 AND c >= 2 THEN (r - 1) * (c - 1) END AS df,
  CASE WHEN r >= 2 AND c >= 2 THEN 2 * core END AS g_micro,
  CASE WHEN r >= 2 AND c >= 2 THEN
    round(2.0 * CAST(core AS DOUBLE) / 1e6, 6) END AS g
FROM agg, tot
""")
def q387(spark, sf_dir):
    """G-test of independence over document lang×source — the TEST
    view (G = 2N·I, χ²-distributed with (r−1)(c−1) df) completing the
    nominal dependence family: q262's raw-nat decomposition, q333's
    Cramér's V effect size, q363's normalized U, q364's modal λ, and
    now the significance statistic — the µ-nat snap-before-sum core
    doubled once."""
    from ultraviolet_spark.operators.stats import g_test

    return g_test(_t(spark, sf_dir, "documents"),
                  a_col="lang", b_col="source")


@q("q388_kupiec_pof", """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS BIGINT)
           AS x
  FROM events),
e AS (SELECT n, x,
        CAST(x AS DOUBLE) AS xd, CAST(n AS DOUBLE) AS nd,
        CAST(1.0 AS DOUBLE) / CAST(20.0 AS DOUBLE) AS p0
      FROM agg),
f AS (SELECT *,
        (CASE WHEN x > 0 THEN xd * ln(xd / NULLIF(nd, 0))
              ELSE 0.0 END)
        + (CASE WHEN n - x > 0
                THEN CAST(n - x AS DOUBLE)
                     * ln((nd - xd) / NULLIF(nd, 0))
                ELSE 0.0 END) AS obs,
        xd * ln(p0) + (nd - xd) * ln(1.0 - p0) AS nul
      FROM e)
SELECT n, x,
  CASE WHEN n > 0 THEN round(xd / NULLIF(nd, 0), 6) END AS rate,
  round(p0, 6) AS p0,
  CASE WHEN n > 0 THEN round(2.0 * (obs - nul), 6) END AS lr
FROM f
""")
def q388(spark, sf_dir):
    """Kupiec proportion-of-failures LR — "did the observed violation
    rate match the promised p₀ = 1/20" over the value > 400 event
    tail, the monitoring gate every alert-budget/VaR/SLA promise
    needs (the binomial LR counterpart of q377's two-sample z): one
    fixed-order double chain over exact counts with the x·ln x → 0
    boundary convention."""
    from ultraviolet_spark.operators.stats import kupiec_pof

    return kupiec_pof(_t(spark, sf_dir, "events"),
                      fail_expr="CASE WHEN value > 400 THEN 1 ELSE 0 "
                                "END",
                      p0_num=1, p0_den=20)
