"""Edge-case semantics of the window as-of join on hand-built frames,
compared to ``pd.merge_asof`` wherever pandas defines the answer: null
keys, exact-timestamp ties (strict and not), nearest ties and an
inclusive tolerance on long, timestamp and timestamp_ntz columns."""

from __future__ import annotations

import pandas as pd
import pytest
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
