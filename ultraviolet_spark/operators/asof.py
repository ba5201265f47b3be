"""Point-in-time (as-of) join — THE core operator (BASELINE.json:14).

For each left row (by, t) take the single right row with the largest
``t_r <= t`` (backward; ``t_r < t`` when ``strict``) matching the same
``by`` key.  Zero temporal leakage by construction: right rows later
than ``t`` can never influence the output.

Spark has no native as-of join (verified absent in 4.1.2, SURVEY.md
§2.4), so the engine plans one as ONE window pass over a side-tagged
union of both inputs, all in Catalyst (no Python worker):

    left (__side=0, __r=NULL) ∪ right (__side=1, __r=struct(t_r, values…))
    → last(__r, ignorenulls) OVER (PARTITION BY by ORDER BY t, __side DESC
                                   ROWS UNBOUNDED PRECEDING..CURRENT ROW)
    → keep __side = 0

Shuffle census: ONE hash exchange on ``by`` for the union, and none
when both inputs already hash-partition on ``by`` (the flagship, whose
two sides come out of ``feature_vector``'s url windows) or scan a
``write_bucketed`` layout (``bucket_col``; tests/test_layout.py).  The
per-key sort is the window's own and spills to disk on a hot key.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__side"
_SALT = "__salt"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "warc_ts",
    right_on: str | None = None,
    by: str = "url",
    right_by: str | None = None,
    value_cols: list[str] | None = None,
    direction: str = "backward",
    strict: bool = False,
    tolerance: pd.Timedelta | str | int | None = None,
    suffix: str = "_r",
    hot_keys: list | None = None,
    salt: int = 8,
    bucket_col: str | None = None,
) -> DataFrame:
    """As-of join; returns all left columns + right ``value_cols``
    (suffixed on collision).  ``direction`` ∈ {backward, forward,
    nearest} (backward is the point-in-time default).

    Nulls: a right row whose ``by`` or ``on`` is null never matches; a
    left row whose ``on`` is null gets null values.  ``tolerance`` is
    inclusive, a Timedelta (or a string pandas parses as one) for
    timestamp ``on`` columns and a number for numeric ones.  Right rows
    tied on (key, time) resolve in no defined order — pre-aggregate them
    to one row per (key, time) for deterministic results (the q371
    contract).

    Skew handling (crawl-frequency hot keys, BASELINE.json north_rule):
    pass ``hot_keys`` (entity values whose row counts dwarf the rest —
    find them with ``find_hot_keys``) and the left side of each hot key
    is split across ``salt`` slices by a hash of its *timestamp* while
    the right side is copied to every slice; the slice is an extra
    window partition key.  Each slice carries the key's FULL right
    history, so every slice's answer is exact — verified by
    tests/test_skew.py equality against the unsalted plan.

    ``bucket_col``: name of a PRE-MATERIALIZED bucket column present on
    BOTH sides (written by plans.layout.write_bucketed).  The window
    then partitions by (bucket, by) — the same groups, since bucket =
    f(by) — so two bucketed scans plan with ZERO exchanges (asserted in
    tests/test_layout.py).  Mutually exclusive with ``hot_keys`` (a
    bucketed layout fixes bucket ids at write time; re-bucket hot keys
    at ingest instead).
    """
    right_on = right_on or on
    right_by = right_by or by
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c not in (right_on, right_by, bucket_col)]
    names = [c + suffix if c in left.columns else c for c in value_cols]
    return _union_asof(left, [(right, right_by, right_on, value_cols, names)],
                       on=on, by=by, direction=direction, strict=strict,
                       tolerance=tolerance, hot_keys=hot_keys, salt=salt,
                       bucket_col=bucket_col)


def _union_asof(left: DataFrame, rights: list[tuple], *, on: str, by: str,
                direction: str = "backward", strict: bool = False,
                tolerance=None, hot_keys: list | None = None, salt: int = 8,
                bucket_col: str | None = None) -> DataFrame:
    """The as-of of ``left`` against every ``(right, right_by, right_on,
    value_cols, out_names)`` in ``rights``, all in ONE window pass: right
    side i fills only its own struct column ``__r{i}``."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    if bucket_col is not None and hot_keys:
        raise ValueError("bucket_col and hot_keys are mutually exclusive")
    ltype = {f.name: f.dataType for f in left.schema.fields}
    # The keys travel under fresh names: a union keeps its children's
    # hash partitioning only when they agree attribute for attribute,
    # and a pass-through column of a catalog table carries a qualifier
    # that defeats the match.
    keys = {c: f"__k{i}" for i, c in enumerate([bucket_col, by]) if c}
    slots = [f"__r{i}" for i in range(len(rights))]

    # each right side as (keys, on, __r): __r = struct(t, v0, v1, …) is
    # never null, so last(ignorenulls) sees exactly the right rows
    packed = []
    for r, r_by, r_on, value_cols, _ in rights:
        r_t = F.col(r_on).cast(ltype[on])
        src = {bucket_col: bucket_col, by: r_by}
        packed.append(
            r.filter(F.col(r_by).isNotNull() & F.col(r_on).isNotNull())
            .select(*[F.col(src[c]).cast(ltype[c]).alias(k) for c, k in keys.items()],
                    r_t.alias(on),
                    F.struct(r_t.alias("t"), *[F.col(c).alias(f"v{k}")
                                               for k, c in enumerate(value_cols)])
                    .alias("__r")))
    null_slot = [F.lit(None).cast(p.schema["__r"].dataType) for p in packed]

    branches = [left.select(
        *[F.col(c).alias(keys[c]) if c in keys else c for c in left.columns],
        F.lit(0).alias(_SIDE), *[n.alias(s) for n, s in zip(null_slot, slots)])]
    for i, p in enumerate(packed):
        branches.append(p.select(
            *[F.col(keys.get(c, c)) if keys.get(c, c) in p.columns
              else F.lit(None).cast(ltype[c]).alias(c) for c in left.columns],
            F.lit(1).alias(_SIDE),
            *[(F.col("__r") if j == i else n).alias(s)
              for j, (n, s) in enumerate(zip(null_slot, slots))]))
    part = list(keys.values())
    if hot_keys:
        is_hot = F.array_contains(F.array(*[F.lit(k) for k in hot_keys]), F.col(keys[by]))
        branches[0] = branches[0].withColumn(
            _SALT, F.when(is_hot, F.pmod(F.xxhash64(on), F.lit(salt)))
            .otherwise(F.lit(0).cast("long")))
        branches[1:] = [b.withColumn(_SALT, F.explode(
            F.when(is_hot, F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"))
            .otherwise(F.array(F.lit(0).cast("long"))))) for b in branches[1:]]
        part.append(_SALT)
    u = reduce(DataFrame.union, branches)

    # Running frames only (O(n) per key): backward orders time ascending,
    # forward descending.  At a tied timestamp the right row sorts first,
    # inside the frame, unless `strict`.
    tie = F.col(_SIDE).asc() if strict else F.col(_SIDE).desc()
    w = Window.partitionBy(*part)
    back = w.orderBy(F.col(on).asc(), tie).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    fwd = w.orderBy(F.col(on).desc(), tie).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    t = F.col(on)

    def gap(m):
        return F.when(m["t"] <= t, t - m["t"]).otherwise(m["t"] - t)

    if isinstance(tolerance, str) or hasattr(tolerance, "total_seconds"):
        tolerance = pd.Timedelta(tolerance).to_pytimedelta()
    matched = []
    for s in slots:
        b = F.last(s, ignorenulls=True).over(back)
        f = F.last(s, ignorenulls=True).over(fwd)
        m = {"backward": b, "forward": f}.get(direction)
        if m is None:  # nearest: the closer candidate, ties to backward
            m = F.when(f.isNull() | (b.isNotNull() & (gap(b) <= gap(f))), b).otherwise(f)
        if tolerance is not None:
            m = F.when(gap(m) <= F.lit(tolerance), m)
        matched.append(F.when(t.isNotNull(), m).alias(s))
    lcols = [keys.get(c, c) for c in left.columns]
    out = u.select(*lcols, _SIDE, *matched).filter(F.col(_SIDE) == 0)
    return out.select(*[F.col(k).alias(c) for k, c in zip(lcols, left.columns)], *[
        F.col(s)[f"v{k}"].alias(name)
        for s, (_, _, _, _, names) in zip(slots, rights)
        for k, name in enumerate(names)])


def find_hot_keys(df: DataFrame, by: str, *, min_rows: int = 1_000_000,
                  top: int = 64) -> list:
    """Entity values whose row counts exceed ``min_rows`` (the scale at
    which one key's window partition makes a straggler task).  One
    partial-agg count — cheap relative to the join itself."""
    rows = (
        df.groupBy(by).agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_rows)
        .orderBy(F.col("__n").desc()).limit(top).collect()
    )
    return [r[by] for r in rows]


def temporal_leakage_audit(df: DataFrame, *, ts_col: str,
                           feature_ts_col: str, label: str) -> DataFrame:
    """One-row audit proving (or refuting) zero temporal leakage of a
    feature join: a feature row whose source timestamp is STRICTLY
    after the entity's event time leaked the future into the feature
    vector (north-rule invariant).  Equality is allowed — point-in-time
    includes the present instant.

    Returns ``(method, n_rows, n_joined, n_violations, max_lead_us)``:
    violation count plus the worst future-peek in microseconds (NULL
    when clean).  Run it against every as-of/backfill output in CI —
    a forward-direction join, a missing watermark, or an off-by-one in
    a window frame all surface here as n_violations > 0 with the exact
    magnitude, not as silently optimistic eval metrics months later.

    Scale: a single partial aggregation — no shuffle beyond the 1-row
    reduce, safe to run on the full 10^12-row feature table.
    """
    viol = F.col(feature_ts_col) > F.col(ts_col)
    # unix_micros rejects TIMESTAMP_NTZ; the session timezone is pinned
    # UTC (session.py), so the NTZ→TZ cast is value-preserving and the
    # DIFFERENCE is timezone-free regardless.
    lead_us = (F.unix_micros(F.col(feature_ts_col).cast("timestamp"))
               - F.unix_micros(F.col(ts_col).cast("timestamp")))
    return df.agg(
        F.lit(label).alias("method"),
        F.count("*").cast("long").alias("n_rows"),
        F.count(feature_ts_col).cast("long").alias("n_joined"),
        F.sum(F.when(viol, 1).otherwise(0)).cast("long")
         .alias("n_violations"),
        F.max(F.when(viol, lead_us)).cast("long").alias("max_lead_us"))


def multi_horizon_asof(left: DataFrame, right: DataFrame, *,
                       on: str = "warc_ts", by: str = "url",
                       value_cols: list[str] | None = None,
                       horizons: list[tuple[str, str]] = (),
                       suffix: str = "_r", **asof_kwargs) -> DataFrame:
    """Point-in-time feature vector at MULTIPLE lag horizons — the
    feature-store staple on top of :func:`asof_join`: for each left
    row at time t, fetch the last right observation at-or-before
    t − Δ for every Δ in ``horizons`` (e.g. the 1-hour-ago, 1-day-ago
    and 7-days-ago states), all with zero temporal leakage by
    construction.

    ``horizons`` is a list of ``(label, interval_sql)`` pairs, e.g.
    ``[("1h", "INTERVAL 1 HOUR"), ("24h", "INTERVAL 24 HOURS")]``;
    each right ``value_col`` lands as ``{col}_{label}``.

    Mechanics: shifting the RIGHT timestamps forward by Δ makes the
    ordinary backward as-of at t equivalent to "last right row with
    original ts ≤ t − Δ".  The H shifted copies of the right side are
    unioned in together, each filling only its own struct column, so
    all H horizons come out of ONE backward window pass (same
    salting/bucketing options and duplicate-(key, ts) caveat as
    :func:`asof_join`, via ``asof_kwargs``).
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, by)]
    rights = []
    for label, interval in horizons:
        names = [f"{c}_{label}" for c in value_cols]
        rights.append((right.withColumn(on, F.col(on) + F.expr(interval)), by, on,
                       value_cols, [n + suffix if n in left.columns else n for n in names]))
    return _union_asof(left, rights, on=on, by=by, direction="backward",
                       **asof_kwargs)
