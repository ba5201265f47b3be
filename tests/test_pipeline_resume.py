"""Kill-and-rerun resumability of the full flagship pipeline
(SURVEY.md §5.7): second run must skip every stage and produce
identical output; a parameter change must cascade recomputation."""

from __future__ import annotations

from ultraviolet_spark.pipeline import run_checkpointed_pipeline


def test_pipeline_resumes_all_stages(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    wh = str(tmp_path / "wh")

    out1, r1 = run_checkpointed_pipeline(spark, pages, wh, inputs_key=pages_path)
    assert r1 == {"text_extracted": False, "features": False,
                  "features_enriched": False}

    out2, r2 = run_checkpointed_pipeline(spark, pages, wh, inputs_key=pages_path)
    assert r2 == {"text_extracted": True, "features": True,
                  "features_enriched": True}

    cols = ["url", "warc_ts", "text_len", "session_id", "first_text_len"]
    a = sorted(map(tuple, out1.select(cols).collect()))
    b = sorted(map(tuple, out2.select(cols).collect()))
    assert a == b


def test_param_change_cascades_downstream_only(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    wh = str(tmp_path / "wh")
    run_checkpointed_pipeline(spark, pages, wh, inputs_key=pages_path)
    # gap change: extract stage unchanged, feature stages recompute
    _, r = run_checkpointed_pipeline(spark, pages, wh, inputs_key=pages_path,
                                     gap_secs=3600.0)
    assert r == {"text_extracted": True, "features": False,
                 "features_enriched": False}


def test_code_change_invalidates_resume(spark, tmp_path):
    """ADVICE r1: a changed stage implementation must not silently
    resume a stale checkpoint — the default code_version is derived
    from the build function's bytecode."""
    from ultraviolet_spark.plans.snapshots import (
        ParquetSnapshotFormat,
        run_stage,
    )

    fmt = ParquetSnapshotFormat(str(tmp_path / "wh"))

    def build_v1():
        return spark.range(5).withColumn("y", F.col("id") * 2)

    def build_v2():
        return spark.range(5).withColumn("y", F.col("id") * 3)

    from pyspark.sql import functions as F  # noqa: F811

    _, resumed = run_stage(spark, fmt, "t", "same-inputs", build_v1)
    assert resumed is False
    _, resumed = run_stage(spark, fmt, "t", "same-inputs", build_v1)
    assert resumed is True
    df, resumed = run_stage(spark, fmt, "t", "same-inputs", build_v2)
    assert resumed is False  # new bytecode -> recompute
    assert df.agg(F.sum("y")).first()[0] == 30
    # explicit code_version overrides the bytecode default
    _, resumed = run_stage(spark, fmt, "t", "same-inputs", build_v2,
                           code_version="pinned")
    assert resumed is False
    _, resumed = run_stage(spark, fmt, "t", "same-inputs", build_v1,
                           code_version="pinned")
    assert resumed is True  # pinned version: body ignored


def test_code_fingerprint_stable_with_nested_lambdas():
    """A build containing nested lambdas/comprehensions must fingerprint
    identically across independent compilations (repr of a nested code
    object embeds a memory address — ADVICE r2: the old repr-based
    default changed every process, so checkpointing silently degraded to
    always-recompute)."""
    from ultraviolet_spark.plans.snapshots import _code_fingerprint

    src = (
        "def build():\n"
        "    xs = [i * 2 for i in range(3)]\n"
        "    f = lambda v: v + sum(xs)\n"
        "    return f(1)\n"
    )
    fps = []
    for _ in range(2):
        ns: dict = {}
        exec(compile(src, "<stage>", "exec"), ns)  # fresh code objects
        fps.append(_code_fingerprint(ns["build"].__code__))
    assert fps[0] == fps[1]

    # and a genuinely different nested body must change the fingerprint
    ns2: dict = {}
    exec(compile(src.replace("v + sum(xs)", "v - sum(xs)"), "<stage>", "exec"), ns2)
    assert _code_fingerprint(ns2["build"].__code__) != fps[0]


def test_upstream_code_change_cascades_downstream(spark, pages_path, tmp_path,
                                                  monkeypatch):
    """A new text_extracted build (same inputs) must not let features
    and features_enriched resume snapshots built from the old one: each
    stage chains on the upstream stage's resume key, which holds the
    build's code version."""
    from ultraviolet_spark.plans import snapshots

    pages = spark.read.parquet(pages_path)
    wh = str(tmp_path / "wh")
    run_checkpointed_pipeline(spark, pages, wh, inputs_key=pages_path)

    real = snapshots._code_fingerprint

    def extract_build_changed(code):
        fp = real(code)
        return fp + "-v2" if "extract_stage" in code.co_names else fp

    monkeypatch.setattr(snapshots, "_code_fingerprint", extract_build_changed)
    _, r = run_checkpointed_pipeline(spark, pages, wh, inputs_key=pages_path)
    assert r == {"text_extracted": False, "features": False,
                 "features_enriched": False}

