"""Bucketed / range-sorted physical layouts (SURVEY.md §2.7): the
flagship as-of, key aggregations, joins and windows over a
write_bucketed table must plan with ZERO exchanges — the layout's whole
point is paying the shuffle once at ingest."""

from __future__ import annotations

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from ultraviolet_spark.operators.asof import asof_join
from ultraviolet_spark.plans.layout import (
    BUCKET_COL,
    add_bucket_column,
    read_bucketed,
    write_bucketed,
    write_range_sorted,
)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def bucketed_pages(spark, pages_path, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bucketed_wh")
    pages = spark.read.parquet(pages_path)
    write_bucketed(pages, "pages_bucketed", by="url", ts="warc_ts",
                   num_buckets=8, path=str(wh / "pages_bucketed"))
    yield read_bucketed(spark, "pages_bucketed")
    spark.sql("DROP TABLE IF EXISTS pages_bucketed")


def test_groupby_bucket_key_no_exchange(spark, bucketed_pages):
    df = bucketed_pages.groupBy(BUCKET_COL).agg(F.count("*").alias("n"))
    assert ") Exchange" not in _plan(df)


def test_self_join_on_bucket_no_exchange(spark, bucketed_pages):
    a = bucketed_pages.select(BUCKET_COL, "url", "warc_ts")
    b = bucketed_pages.select(BUCKET_COL, "url", "lang")
    df = a.join(b, on=[BUCKET_COL, "url"])
    # co-bucketed scan on both sides: sort-merge join without exchanges
    assert ") Exchange" not in _plan(df)


def test_asof_over_bucketed_layout_zero_exchanges(spark, bucketed_pages):
    left = bucketed_pages.select(BUCKET_COL, "url", "warc_ts", "lang")
    right = bucketed_pages.select(
        BUCKET_COL, "url", "warc_ts", F.col("lang").alias("prev_lang"))
    out = asof_join(left, right, on="warc_ts", by="url",
                    value_cols=["prev_lang"], strict=True,
                    bucket_col=BUCKET_COL)
    plan = _plan(out)
    assert ") Exchange" not in plan, plan
    # and it still computes the right thing (spot check vs unbucketed)
    base_l = spark.table("pages_bucketed").select("url", "warc_ts", "lang")
    base_r = base_l.select("url", "warc_ts", F.col("lang").alias("prev_lang"))
    want = asof_join(base_l, base_r, on="warc_ts", by="url",
                     value_cols=["prev_lang"], strict=True)
    got_rows = sorted(map(tuple, out.select("url", "warc_ts", "prev_lang").collect()))
    want_rows = sorted(map(tuple, want.select("url", "warc_ts", "prev_lang").collect()))
    assert got_rows == want_rows


def test_asof_bucketed_matches_computed_buckets(spark, pages_path):
    """Partitioning the as-of by a bucket that add_bucket_column
    materializes gives the same result as partitioning by key alone."""
    pages = spark.read.parquet(pages_path)
    l0 = pages.select("url", "warc_ts", "lang")
    r0 = pages.select("url", "warc_ts", F.col("lang").alias("v"))
    want = asof_join(l0, r0, on="warc_ts", by="url", value_cols=["v"],
                     strict=True)
    lb = add_bucket_column(l0, "url", 8)
    rb = add_bucket_column(r0, "url", 8)
    got = asof_join(lb, rb, on="warc_ts", by="url", value_cols=["v"],
                    strict=True, bucket_col=BUCKET_COL)
    a = sorted(map(tuple, want.select("url", "warc_ts", "v").collect()))
    b = sorted(map(tuple, got.select("url", "warc_ts", "v").collect()))
    assert a == b


def test_window_over_bucket_no_exchange(spark, bucketed_pages):
    w = Window.partitionBy(BUCKET_COL, "url").orderBy("warc_ts")
    df = bucketed_pages.withColumn("rn", F.row_number().over(w))
    plan = _plan(df)
    assert ") Exchange" not in plan, plan


def test_range_sorted_write_skips_files(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "range_sorted")
    write_range_sorted(pages, out, range_by=["warc_ts"],
                       sort_by=["warc_ts", "url"], num_partitions=4)
    back = spark.read.parquet(out)
    assert back.count() == pages.count()
    # non-overlapping file ranges: per-file min/max don't interleave
    import pandas as pd  # noqa: F401

    stats = (back.groupBy(F.col("_metadata.file_path").alias("f"))
             .agg(F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi"))
             .orderBy("lo").collect())
    for prev, cur in zip(stats, stats[1:]):
        assert prev["hi"] <= cur["lo"]


def test_flagship_over_bucketed_zero_exchanges(spark, pages_path, tmp_path_factory):
    """The 100 TB shape: extract once at ingest, write text_extracted
    bucketed, then the ENTIRE feature + as-of pipeline plans with zero
    exchanges — and matches the unbucketed flagship's results."""
    from ultraviolet_spark.functions.udfs import extract_stage
    from ultraviolet_spark.pipeline import flagship_enriched, flagship_over_bucketed

    pages = spark.read.parquet(pages_path)
    te = extract_stage(pages, with_features=True)
    wh = tmp_path_factory.mktemp("flagship_bucketed")
    write_bucketed(te, "te_bucketed", by="url", ts="warc_ts",
                   num_buckets=8, path=str(wh / "te_bucketed"))
    try:
        out = flagship_over_bucketed(spark, "te_bucketed")
        plan = _plan(out)
        assert ") Exchange" not in plan, plan

        cols = ["url", "warc_ts", "text_len", "session_id",
                "text_len_ffill", "first_text_len"]
        got = sorted(map(tuple, out.select(cols).collect()))
        want = sorted(map(tuple, flagship_enriched(pages).select(cols).collect()))
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS te_bucketed")


# ---------------------------------------------------- z-order layout

def test_zorder_key_reference(spark):
    from pyspark.sql import functions as F

    from ultraviolet_spark.plans.layout import zorder_key

    def py_z(x, y, bits=16):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    rows = [(i, (i * 7) % 100, (i * 13) % 100) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r["id"]: r["z"] for r in df.select(
        "id", zorder_key(["x", "y"]).alias("z")).collect()}
    assert got == {i: py_z(x, y) for i, x, y in rows}


def test_zorder_files_skip_on_both_dimensions(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ultraviolet_spark.plans.layout import write_zordered

    # 64x64 grid; z-ordered files must cover small (x,y) boxes while an
    # x-sorted layout gives every file the full y range
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y"))
    zdir = str(tmp_path / "z")
    write_zordered(grid, zdir, cols=["x", "y"], bits=6, num_files=8)

    import glob
    boxes = []
    for f in glob.glob(f"{zdir}/part-*.parquet"):
        md = pq.read_metadata(f)
        mins = {"x": 1 << 30, "y": 1 << 30}
        maxs = {"x": -1, "y": -1}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in mins and col.statistics is not None:
                    mins[name] = min(mins[name], col.statistics.min)
                    maxs[name] = max(maxs[name], col.statistics.max)
        boxes.append((maxs["x"] - mins["x"] + 1, maxs["y"] - mins["y"] + 1))
    assert len(boxes) >= 4
    # every file's box is a sub-quadrant, never the full 64x64 plane;
    # total covered area stays near the ideal n_cells (allow 4x slack)
    assert all(bx * by <= 64 * 64 / 2 for bx, by in boxes), boxes
    assert sum(bx * by for bx, by in boxes) <= 4 * 64 * 64, boxes

    # roundtrip: no rows lost or duplicated
    back = spark.read.parquet(zdir)
    assert back.count() == 64 * 64
    assert back.select("x", "y").distinct().count() == 64 * 64


def test_date_partitioned_pruning_and_dynamic_overwrite(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from ultraviolet_spark.plans.layout import (read_date_partitioned,
                                                write_date_partitioned)

    p = str(tmp_path / "dated")
    rows = [(i, dt.datetime(2024, 1, 1 + i % 3, 12, 0), float(i))
            for i in range(30)]
    df = spark.createDataFrame(rows, "id long, warc_ts timestamp, v double")
    write_date_partitioned(df, p)

    back = read_date_partitioned(spark, p)
    assert back.count() == 30
    one_day = back.filter(F.col("crawl_date") == "2024-01-02")
    plan = one_day._sc._jvm.PythonSQLUtils.explainString(
        one_day._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "crawl_date" in plan.split(
        "PartitionFilters")[1][:200]
    # pruning is real: only day-2 files are touched
    files = {r[0] for r in one_day.select(
        F.input_file_name()).distinct().collect()}
    assert files and all("crawl_date=2024-01-02" in f for f in files)

    # dynamic overwrite replaces ONLY the day present in the frame
    patch = spark.createDataFrame(
        [(99, dt.datetime(2024, 1, 2, 1, 0), 999.0)],
        "id long, warc_ts timestamp, v double")
    write_date_partitioned(patch, p, mode="dynamic")
    after = read_date_partitioned(spark, p)
    assert after.filter(F.col("crawl_date") == "2024-01-02").count() == 1
    assert after.filter(F.col("crawl_date") != "2024-01-02").count() == 20
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static") == "static"


def test_compaction_plan_bins_and_passthrough(spark):
    from ultraviolet_spark.plans.layout import compaction_plan
    rows = [
        # partition A: five 300-byte smalls → bins of ~3 at target 1000
        *[("A", f"f{i}", 300) for i in range(5)],
        # partition A: one big file passes through
        ("A", "g0", 5000),
        # partition B: single small file → 1-file bin, NOT actionable
        ("B", "f0", 10),
        # a file that CROSSES the boundary stays in the bin it started in
        ("C", "a", 900), ("C", "b", 900), ("C", "c", 900),
    ]
    df = spark.createDataFrame(rows,
                               "part string, file_path string, size_bytes long")
    got = {(r["part"], r["group_id"]): r for r in compaction_plan(
        df, partition_cols=["part"], target_bytes=1000).collect()}
    # A smalls: cum_before 0,300,600,900,1200 → bins 0,0,0,0,1
    a0, a1 = got[("A", 0)], got[("A", 1)]
    assert (a0["n_files"], a0["bytes_total"], a0["needs_compaction"]) == \
        (4, 1200, True)
    assert (a1["n_files"], a1["needs_compaction"]) == (1, False)
    big = got[("A", -1)]
    assert big["passthrough"] is True and big["bytes_total"] == 5000
    assert big["needs_compaction"] is False
    assert got[("B", 0)]["needs_compaction"] is False
    # C: cum_before 0,900,1800 → bins 0,0,1 — 'b' crosses but stays in 0
    assert got[("C", 0)]["n_files"] == 2 and got[("C", 0)]["bytes_total"] == 1800
    assert got[("C", 1)]["n_files"] == 1
    # conservation: every byte planned exactly once
    assert sum(r["bytes_total"] for r in got.values()) == \
        sum(r[2] for r in rows)
