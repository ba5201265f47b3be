"""End-to-end Spark pipeline tests (SURVEY.md §5.3): extract stage
byte-identical vs golden column; features numpy-allclose vs the
independent pandas oracle; as-of join vs pandas merge_asof."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.spark


def test_extract_stage_byte_identical(spark, pages_path):
    from ultraviolet_spark.functions.udfs import extract_stage

    pages = spark.read.parquet(pages_path)
    golden = pages.select("url", "warc_ts", "text").toPandas()
    got = (
        extract_stage(pages)
        .select("url", "warc_ts", "text", "valid_utf8", "n_replacements", "bom")
        .toPandas()
    )
    m = golden.merge(got, on=["url", "warc_ts"], suffixes=("_want", "_got"))
    assert len(m) == len(golden)
    bad = m[m["text_want"] != m["text_got"]]
    assert len(bad) == 0, bad.head()
    # some rows must exercise each decode path for this test to mean much
    assert (got["n_replacements"] > 0).any()
    assert (got["bom"] != "none").any()


def test_features_allclose_golden(spark, pages_path):
    from fixtures.make_features_golden import golden_features
    from ultraviolet_spark.pipeline import compute_features

    pages = spark.read.parquet(pages_path)
    got = compute_features(pages).toPandas()
    want = golden_features(pd.read_parquet(pages_path))

    key = ["url", "warc_ts"]
    m = want.merge(got, on=key, suffixes=("_w", "_g"))
    assert len(m) == len(want) == len(got)
    assert m["text_len_w"].equals(m["text_len_g"].astype("int64"))
    assert m["lang_w"].equals(m["lang_g"])
    for c in ["lang_stable_lag1", "lang_stable_lag2"]:
        assert m[f"{c}_w"].equals(m[f"{c}_g"])
    np.testing.assert_allclose(
        m["gap_secs_w"].astype(float), m["gap_secs_g"].astype(float), rtol=1e-9
    )
    assert m["session_id_w"].astype("int64").equals(m["session_id_g"].astype("int64"))
    for c in ["text_len_lag1", "text_len_ffill"]:
        w = m[f"{c}_w"].astype("Float64")
        g = m[f"{c}_g"].astype("Float64")
        assert w.equals(g), c
    hw = np.stack(m["cp_hist_w"].to_numpy())
    hg = np.stack(m["cp_hist_g"].to_numpy())
    np.testing.assert_array_equal(hw, hg)


def test_asof_join_vs_pandas(spark, sf_dir):
    """events: for each row, latest prior 'purchase' value per user —
    engine asof_join vs plain pandas merge_asof on collected data."""
    from ultraviolet_spark.operators.asof import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = events.select("event_id", "ts", "user_id", "value")
    right = events.filter("event_type = 'purchase'").select(
        "ts", "user_id", "value"
    )
    got = asof_join(
        left, right, on="ts", by="user_id", value_cols=["value"]
    ).toPandas().sort_values("event_id").reset_index(drop=True)

    lp = left.toPandas().sort_values("ts", kind="mergesort")
    rp = right.toPandas().sort_values("ts", kind="mergesort")
    want = pd.merge_asof(
        lp, rp.rename(columns={"value": "value_r"}), on="ts", by="user_id",
        direction="backward",
    ).sort_values("event_id").reset_index(drop=True)

    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["value_r"].astype(float), want["value_r"].astype(float), rtol=1e-12
    )


def test_asof_join_strict_excludes_exact(spark, sf_dir):
    from ultraviolet_spark.operators.asof import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(500)
    left = events.select("event_id", "ts", "user_id")
    right = events.select("ts", "user_id", "value")
    loose = asof_join(left, right, on="ts", by="user_id", value_cols=["value"]).toPandas()
    strict = asof_join(left, right, on="ts", by="user_id", value_cols=["value"],
                       strict=True).toPandas()
    # strict must never see the exact-match row: every event matches
    # itself loosely, so loose has no nulls while strict has some.
    assert loose["value"].notna().all()
    assert strict["value"].isna().any()


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_directions_vs_pandas(spark, sf_dir, direction):
    from ultraviolet_spark.operators.asof import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = events.select("event_id", "ts", "user_id", "value").limit(2000)
    right = events.filter("event_type = 'view'").select("ts", "user_id", "value")
    got = asof_join(left, right, on="ts", by="user_id", value_cols=["value"],
                    direction=direction).toPandas().sort_values("event_id")
    lp = left.toPandas().sort_values("ts", kind="mergesort")
    rp = right.toPandas().sort_values("ts", kind="mergesort")
    want = pd.merge_asof(lp, rp.rename(columns={"value": "value_r"}),
                         on="ts", by="user_id",
                         direction=direction).sort_values("event_id")
    a = got["value_r"].astype("Float64").reset_index(drop=True)
    b = want["value_r"].astype("Float64").reset_index(drop=True)
    assert a.equals(b), direction


def test_asof_tolerance_vs_pandas(spark, sf_dir):
    from ultraviolet_spark.operators.asof import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = events.select("event_id", "ts", "user_id", "value").limit(2000)
    right = events.filter("event_type = 'purchase'").select("ts", "user_id", "value")
    tol = "30 minutes"
    got = asof_join(left, right, on="ts", by="user_id", value_cols=["value"],
                    tolerance=tol).toPandas().sort_values("event_id")
    lp = left.toPandas().sort_values("ts", kind="mergesort")
    rp = right.toPandas().sort_values("ts", kind="mergesort")
    want = pd.merge_asof(lp, rp.rename(columns={"value": "value_r"}),
                         on="ts", by="user_id", direction="backward",
                         tolerance=pd.Timedelta(tol)).sort_values("event_id")
    a = got["value_r"].astype("Float64").reset_index(drop=True)
    b = want["value_r"].astype("Float64").reset_index(drop=True)
    assert a.equals(b)
    # tolerance must actually drop some matches vs untolerated backward
    loose = asof_join(left, right, on="ts", by="user_id",
                      value_cols=["value"]).toPandas()
    assert got["value_r"].notna().sum() < loose["value_r"].notna().sum()


def test_with_change_features_literal(spark):
    from ultraviolet_spark.operators.windows import with_change_features

    rows = [
        ("u1", 1, "hello world"),
        ("u1", 2, "hello world"),        # unchanged
        ("u1", 3, "hello brave world"),  # changed, jaccard 2/3
        ("u2", 1, "solo page"),
        ("u2", 2, ""),                   # emptied page
    ]
    df = spark.createDataFrame(rows, "url string, ts int, text string")
    got = {(r["url"], r["ts"]): r for r in
           with_change_features(df, by="url", order="ts").collect()}

    first = got[("u1", 1)]
    assert (first["changed"], first["token_jaccard"],
            first["len_delta"]) == (None, None, None)
    same = got[("u1", 2)]
    assert (same["changed"], same["token_jaccard"],
            same["len_delta"]) == (False, 1.0, 0)
    ch = got[("u1", 3)]
    assert ch["changed"] is True
    assert ch["token_jaccard"] == round(2 / 3, 6)
    assert ch["len_delta"] == len("hello brave world") - len("hello world")
    gone = got[("u2", 2)]
    assert gone["changed"] is True
    assert gone["token_jaccard"] == 0.0  # empty ∪ nonempty -> 0/2
    assert gone["len_delta"] == -len("solo page")
    # leakage: the FIRST crawl never observes anything
    assert got[("u2", 1)]["changed"] is None


def test_with_rolling_stats_vs_pandas(spark):
    import numpy as np
    import pandas as pd

    from ultraviolet_spark.operators.windows import with_rolling_stats

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "url": np.repeat(["a", "b", "c"], 20),
        "ts": np.tile(np.arange(20), 3),
        "v": np.round(rng.normal(10, 3, 60), 3),
    })
    df = spark.createDataFrame(pdf)
    got = (with_rolling_stats(df, "v", by="url", order="ts", n=4)
           .toPandas().sort_values(["url", "ts"]).reset_index(drop=True))

    g = pdf.sort_values(["url", "ts"]).groupby("url")["v"]
    # shift(1) excludes the current row -> strictly past-only stats
    want_mean = g.apply(lambda s: s.shift(1).rolling(4, min_periods=1)
                        .mean()).reset_index(drop=True)
    want_cnt = g.apply(lambda s: s.shift(1).rolling(4, min_periods=1)
                       .count()).reset_index(drop=True).fillna(0)
    want_std = g.apply(lambda s: s.shift(1).rolling(4, min_periods=2)
                       .std()).reset_index(drop=True)
    assert np.allclose(got["v_rmean"].astype(float),
                       np.round(want_mean.astype(float), 6), equal_nan=True)
    assert (got["v_rcnt"] == want_cnt.astype(int)).all()
    assert np.allclose(got["v_rstd"].astype(float),
                       np.round(want_std.astype(float), 6), equal_nan=True)
    # leakage guard: first observation of every key sees nothing
    firsts = got[got["ts"] == 0]
    assert (firsts["v_rcnt"] == 0).all()
    assert firsts["v_rmean"].isna().all()


# ---------------------------------------------------- ewma_by_key

def test_ewma_matches_python_fold(spark):
    from pyspark.sql import functions as F

    from ultraviolet_spark.operators.windows import ewma_by_key
    rows = [("u1", 1, 10.0), ("u1", 2, 20.0), ("u1", 3, 2.5),
            ("u2", 1, 7.0)]
    df = spark.createDataFrame(rows, "user string, seq long, v double")
    got = {r["user"]: (r["n"], r["ewma_micro"])
           for r in ewma_by_key(df, value_col="v", order_cols=["seq"],
                                by="user").collect()}

    def fold(vs):
        e = int(vs[0] * 1e6)
        for v in vs[1:]:
            e = int((e + int(v * 1e6)) / 2)  # trunc toward zero
        return e

    assert got == {"u1": (3, fold([10.0, 20.0, 2.5])),
                   "u2": (1, fold([7.0]))}


def test_ewma_partitioning_invariant_and_order_driven(spark):
    from ultraviolet_spark.operators.windows import ewma_by_key
    rows = [("k", i, float((i * 37) % 100)) for i in range(50)]
    a = spark.createDataFrame(rows, "user string, seq long, v double")
    b = a.repartition(7)
    ra = ewma_by_key(a, value_col="v", order_cols=["seq"],
                     by="user").collect()[0]
    rb = ewma_by_key(b, value_col="v", order_cols=["seq"],
                     by="user").collect()[0]
    assert (ra["n"], ra["ewma_micro"]) == (rb["n"], rb["ewma_micro"])
    # reversing the order changes the fold (EWMA is order-sensitive):
    rev = [("k", 100 - i, v) for _, i, v in rows]
    c = spark.createDataFrame(rev, "user string, seq long, v double")
    rc = ewma_by_key(c, value_col="v", order_cols=["seq"],
                     by="user").collect()[0]
    assert rc["ewma_micro"] != ra["ewma_micro"]


def test_asof_nearest_tie_prefers_backward_hand_case(spark):
    """q371 contract: at EQUAL distance the nearest-direction as-of
    takes the BACKWARD candidate (pandas merge_asof convention,
    pinned empirically); a tolerance tighter than the tie distance
    yields no match."""
    from ultraviolet_spark.operators.asof import asof_join

    l = spark.createDataFrame([("u", 1, 10)],
                              "user_id string, event_id long, ts long")
    r = spark.createDataFrame([("u", 8, 100.0), ("u", 12, 200.0)],
                              "user_id string, ts long, v double")
    got = asof_join(l, r, on="ts", by="user_id", value_cols=["v"],
                    direction="nearest").head()
    assert got["v"] == 100.0          # tie -> backward
    tight = asof_join(l, r, on="ts", by="user_id", value_cols=["v"],
                      direction="nearest", tolerance=1).head()
    assert tight["v"] is None


def test_multi_horizon_asof_hand_case(spark):
    """q381 contract: each horizon fetches the last right row at or
    before t - delta, independently, leakage-free."""
    from pyspark.sql import functions as F

    from ultraviolet_spark.operators.asof import multi_horizon_asof

    l = spark.createDataFrame(
        [("u", 1, "2024-01-02 12:00:00")],
        "user_id string, event_id long, ts string").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"))
    rows = [("u", "2024-01-02 11:30:00", 10.0),   # within 1h window? t-1h=11:00 -> 11:30 > 11:00 NO
            ("u", "2024-01-02 10:00:00", 20.0),   # <= 11:00 -> 1h pick
            ("u", "2024-01-01 09:00:00", 30.0)]   # <= prev day 12:00 -> 24h pick
    r = spark.createDataFrame(
        rows, "user_id string, ts string, pv double").select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "pv")
    got = multi_horizon_asof(
        l, r, on="ts", by="user_id", value_cols=["pv"],
        horizons=[("1h", "INTERVAL 1 HOUR"),
                  ("24h", "INTERVAL 24 HOURS")]).head()
    assert got["pv_1h"] == 20.0       # 11:30 leaks past t-1h, excluded
    assert got["pv_24h"] == 30.0      # only the prior-day row qualifies
