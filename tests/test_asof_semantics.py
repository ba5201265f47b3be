"""Edge-case semantics of the window as-of join on hand-built frames,
compared to ``pd.merge_asof`` wherever pandas defines the answer: null
keys, exact-timestamp ties (strict and not), nearest ties and an
inclusive tolerance on long, timestamp and timestamp_ntz columns."""

from __future__ import annotations

from functools import reduce

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ultraviolet_spark.operators.asof import asof_join

pytestmark = pytest.mark.spark

DIRECTIONS = ["backward", "forward", "nearest"]

# u's left rows tie with right rows at 5 and 10, and 15 sits exactly
# between 12 and 18 (a nearest tie); w has no right rows at all
LEFT = [("u", 1, 1), ("u", 2, 5), ("u", 3, 10), ("u", 4, 15), ("u", 5, 20),
        ("v", 6, 3), ("w", 7, 7)]
RIGHT = [("u", 5, 50.0), ("u", 10, 100.0), ("u", 12, 120.0),
         ("u", 18, 180.0), ("v", 3, 30.0)]
LSCHEMA = "user_id string, event_id long, ts long"
RSCHEMA = "user_id string, ts long, v double"


def _frames(spark, ts_type="long", left=LEFT, right=RIGHT):
    """The hand frames with ``ts`` as minutes (long) or as that many
    minutes after the epoch (timestamp types)."""
    def frame(rows, schema):
        df = spark.createDataFrame(rows, schema)
        if ts_type == "long":
            return df
        return df.withColumn("ts", F.timestamp_seconds(F.col("ts") * 60).cast(ts_type))
    return frame(left, LSCHEMA), frame(right, RSCHEMA)


def _values(df) -> dict:
    return {r["event_id"]: r["v"] for r in df.collect()}


def _pandas(left, right, **kwargs) -> dict:
    lp = left.toPandas().sort_values("ts", kind="mergesort")
    rp = right.toPandas().sort_values("ts", kind="mergesort")
    m = pd.merge_asof(lp, rp, on="ts", by="user_id", **kwargs)
    return {int(e): (None if pd.isna(v) else float(v))
            for e, v in zip(m["event_id"], m["v"])}


@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("direction", DIRECTIONS)
def test_exact_ties_vs_pandas(spark, direction, strict):
    left, right = _frames(spark)
    got = _values(asof_join(left, right, on="ts", by="user_id", value_cols=["v"],
                            direction=direction, strict=strict))
    assert got == _pandas(left, right, direction=direction,
                          allow_exact_matches=not strict)
    if direction == "nearest":
        assert got[4] == 120.0        # 15 is 3 from both 12 and 18


@pytest.mark.parametrize("direction", DIRECTIONS)
def test_null_keys(spark, direction):
    """A right row with a null ``by`` or ``on`` never matches; a left
    row with a null ``on`` (which merge_asof refuses) or a null ``by``
    gets null values.  Everything else is pandas' answer without the
    null rows."""
    left, right = _frames(spark)
    null_left, null_right = _frames(
        spark, left=[("u", 8, None), (None, 9, 4)],
        right=[(None, 4, 999.0), ("u", None, 888.0), (None, None, 777.0)])
    got = _values(asof_join(left.union(null_left), right.union(null_right),
                            on="ts", by="user_id", value_cols=["v"],
                            direction=direction))
    assert got.pop(8) is None and got.pop(9) is None
    assert got == _pandas(left, right, direction=direction)


@pytest.mark.parametrize("direction", DIRECTIONS)
@pytest.mark.parametrize("ts_type", ["long", "timestamp", "timestamp_ntz"])
def test_tolerance_vs_pandas(spark, ts_type, direction):
    """The tolerance is inclusive: event 5 at 20 keeps 18 two minutes
    back, event 4 at 15 loses both candidates three minutes away."""
    left, right = _frames(spark, ts_type)
    tol = 2 if ts_type == "long" else pd.Timedelta(minutes=2)
    got = _values(asof_join(left, right, on="ts", by="user_id",
                            value_cols=["v"], direction=direction,
                            tolerance=tol))
    assert got == _pandas(left, right, direction=direction, tolerance=tol)
    assert got[4] is None


# One frame that is both sides: is_r marks the right rows.  u ties a
# left row with a right row at 5 and two right rows (one value) at 10;
# a flagged row with a null key or time never matches; a null flag is
# not a right row; w has no right rows.
SELF = [("u", 1, 1, 10.0, False), ("u", 2, 5, 20.0, False),
        ("u", 3, 5, 50.0, True), ("u", 4, 10, 100.0, True),
        ("u", 5, 10, 100.0, True), ("u", 6, 12, 120.0, True),
        ("u", 7, 15, 150.0, False), ("u", 8, 18, 180.0, True),
        ("u", 9, None, 888.0, True), (None, 10, 4, 999.0, True),
        ("v", 11, 3, 30.0, True), ("v", 12, 8, 1.0, None),
        ("v", 13, 9, 90.0, False), ("w", 14, 7, 70.0, False)]


@pytest.mark.parametrize("direction", DIRECTIONS)
def test_right_from_left_equals_filtered_right(spark, direction):
    """The right-from-left form (``right`` names a flag column of
    ``left``) answers exactly as the two-input as-of against
    ``left.filter(flag)``, with the flag column dropped."""
    df = spark.createDataFrame(
        SELF, "user_id string, event_id long, ts long, v double, is_r boolean")
    cases = [(strict, tolerance) for strict in (False, True) for tolerance in (None, 3)]
    got, want = [], []
    for k, (strict, tolerance) in enumerate(cases):
        kw = dict(on="ts", by="user_id", value_cols=["v"], direction=direction,
                  strict=strict, tolerance=tolerance)
        g = asof_join(df, "is_r", **kw)
        w = asof_join(df.drop("is_r"), df.filter("is_r"), **kw)
        assert g.columns == w.columns == ["user_id", "event_id", "ts", "v", "v_r"]
        got.append(g.withColumn("case", F.lit(k)))
        want.append(w.withColumn("case", F.lit(k)))

    def answers(frames):
        rows = reduce(DataFrame.unionAll, frames).collect()
        return {(r["case"], r["event_id"]): r["v_r"] for r in rows}

    got = answers(got)
    assert got == answers(want)
    assert len(got) == len(cases) * len(SELF)
    if direction == "backward":       # the tie at (u, 5): inside unless strict
        assert [got[k, 2] for k in range(len(cases))] == [50.0, 50.0, None, None]
