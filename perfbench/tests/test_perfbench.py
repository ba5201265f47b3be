"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from sparkrest import metric_total  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _table(path):
    return pq.read_table(path).sort_by([("url", "ascending"), ("warc_ts", "ascending")])


@pytest.mark.parametrize("shape,pages", [("small", 400), ("large", 60)])
def test_generator_is_deterministic_per_seed(tmp_path, shape, pages):
    a = gen.generate(shape, 5, str(tmp_path / "a"), pages=pages)
    b = gen.generate(shape, 5, str(tmp_path / "b"), pages=pages)
    c = gen.generate(shape, 6, str(tmp_path / "c"), pages=pages)
    assert a == b
    assert _table(tmp_path / "a").equals(_table(tmp_path / "b"))
    assert not _table(tmp_path / "a").equals(_table(tmp_path / "c"))
    assert len(os.listdir(tmp_path / "a")) == gen.N_FILES


@pytest.mark.parametrize("shape", ["small", "large"])
def test_generated_keys_are_unique_and_properties_exact(tmp_path, shape):
    props = gen.generate(shape, 9, str(tmp_path), pages=300)
    df = pq.read_table(tmp_path).to_pandas()
    assert len(df) == props["input.pages"] == 300
    assert not df.duplicated(["url", "warc_ts"]).any()
    assert props["input.html_bytes"] == int(df["html"].map(len).sum())
    assert props["input.max_crawls_per_url"] == int(df["url"].value_counts().max())


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for name in [*e2e, *layer, *run.WORKLOADS]:
        assert NAME.fullmatch(name), name


def _golden_output(pages: pd.DataFrame) -> pd.DataFrame:
    """The oracle's features plus ``first_text_len``: a correct output."""
    from fixtures.make_features_golden import golden_features

    pages = pages.assign(warc_ts=pages["warc_ts"].dt.tz_convert(None))
    out = golden_features(pages).drop(columns=["text"])
    first = out.sort_values("warc_ts").groupby("url")["text_len"].first()
    return out.assign(first_text_len=out["url"].map(first))


def test_output_check_rejects_text_len_off_by_one(tmp_path):
    gen.generate("small", 3, str(tmp_path), pages=200)
    pages = pq.read_table(tmp_path).to_pandas()
    out = _golden_output(pages)
    assert check.oracle_problems(pages, out) == []

    bad = out.copy()
    bad.loc[bad.index[7], "text_len"] += 1
    problems = check.oracle_problems(pages, bad)
    assert any(p.startswith("text_len") for p in problems), problems

    short = out.drop(index=out.index[3])
    assert check.oracle_problems(pages, short)


def test_sample_urls_include_the_hottest_url(tmp_path):
    gen.generate("small", 4, str(tmp_path), pages=500)
    urls = pq.read_table(tmp_path, columns=["url"]).column("url").to_pandas()
    sample = check.sample_urls(urls, 4, 10)
    assert sample[0] == urls.value_counts().idxmax()
    assert len(set(sample)) == 11
    assert sample == check.sample_urls(urls, 4, 10)


@pytest.mark.parametrize("text,value", [
    ("15,000", 15000.0),
    ("0 ms", 0.0),
    ("64.2 MiB", 64.2 * 2 ** 20),
    ("total (min, med, max (stageId: taskId))\n5.5 s (1.3 s, 1.4 s, 1.5 s (stage 121.0: task 222))",
     5.5),
    ("total (min, med, max (stageId: taskId))\n17 ms (1 ms, 5 ms, 9 ms (stage 3.0: task 8))",
     0.017),
])
def test_metric_total_parses_spark_display_strings(text, value):
    assert metric_total(text) == pytest.approx(value)
