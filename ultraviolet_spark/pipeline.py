"""End-to-end feature pipeline (SURVEY.md §3.1–3.2, the flagship).

    pages ──extract_stage(mapInArrow: decode+validate+extract)──▶ text_extracted
          ──feature_vector(window ops, one shuffle on url)──────▶ features
          ──asof_join(features ⟕ feature_src)───────────────────▶ enriched

Shuffle census at scale: extract_stage is shuffle-free; feature_vector
costs ONE hash exchange on `url` (all window functions share the same
partitioning); asof_join is one more window over the union of its two
sides, and both sides keep that url partitioning, so it moves nothing.
The whole flagship is one exchange and one Python node (the extract
MapInArrow) — asserted in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ultraviolet_spark.functions.udfs import cp_class_hist_udf, extract_stage
from ultraviolet_spark.operators.asof import asof_join
from ultraviolet_spark.operators.windows import (
    SESSION_GAP_SECS_DEFAULT,
    sessionize,
    with_ffill,
    with_lags,
    with_lang_stability,
)

FEATURE_COLS = [
    "url", "warc_ts", "text_len", "cp_hist", "lang",
    "lang_stable_lag1", "lang_stable_lag2", "gap_secs", "session_id",
    "text_len_lag1", "text_len_ffill",
]


def feature_vector(
    text_extracted: DataFrame,
    *,
    by: str = "url",
    order: str = "warc_ts",
    gap_secs: float = SESSION_GAP_SECS_DEFAULT,
    extra_cols: tuple[str, ...] = (),
    bucket_col: str | None = None,
) -> DataFrame:
    """text_extracted → features (SURVEY.md §1.2 schema).  All window
    frames end at currentRow — no temporal leakage.

    ``bucket_col``: name of a materialized bucket column (written by
    plans.layout.write_bucketed).  Windows then partition by
    (bucket, key) — semantically identical since bucket = f(key) — so a
    bucketed-table scan satisfies the clustering requirement and the
    whole feature stage plans with ZERO exchanges (tests/test_layout.py).
    """
    f = text_extracted
    keys = by if bucket_col is None else [bucket_col, by]
    # skip per-row feature UDFs when the extract stage already fused
    # them into its kernel pass (with_features=True)
    if "text_len" not in f.columns:
        f = f.withColumn("text_len", F.length("text").cast("long"))
    if "cp_hist" not in f.columns:
        f = f.withColumn("cp_hist", cp_class_hist_udf("text"))
    f = with_lang_stability(f, by=keys, order=order)
    f = sessionize(f, by=keys, order=order, gap_secs=gap_secs)
    f = with_lags(f, ["text_len"], by=keys, order=order)
    # forward-fill of the last *cleanly decoded* length: rows whose html
    # needed replacements observe null and inherit the last clean value.
    f = f.withColumn(
        "obs_len", F.when(F.col("valid_utf8"), F.col("text_len"))
    )
    f = with_ffill(f, "obs_len", by=keys, order=order, out="text_len_ffill")
    bucket_extra = () if bucket_col is None else (bucket_col,)
    return f.select(*FEATURE_COLS, *bucket_extra, *extra_cols)


def compute_features(pages: DataFrame, **kwargs) -> DataFrame:
    return feature_vector(extract_stage(pages, with_features=True), **kwargs)


def enrich_asof(features: DataFrame, feature_src: DataFrame, **kwargs) -> DataFrame:
    """features ⟕ (backward as-of) feature_src on (url, warc_ts)."""
    return asof_join(features, feature_src, **kwargs)


def flagship_enriched(pages: DataFrame, **kwargs) -> DataFrame:
    """pages → features → backward-as-of enrichment against the per-url
    first-crawl snapshot.  The feature DataFrame feeds BOTH union
    branches of the as-of, so it is persisted before branching — without
    this the whole transcode+window pipeline would execute twice (on a
    cluster the snapshot layer materializes it instead; see
    run_checkpointed_pipeline)."""
    from pyspark import StorageLevel

    from ultraviolet_spark.operators.windows import dedup_latest

    features = compute_features(pages, **kwargs).persist(
        StorageLevel.MEMORY_AND_DISK)
    src = dedup_latest(features, by=["url"], order="warc_ts", keep="first").select(
        "url", "warc_ts", F.col("text_len").alias("first_text_len"))
    return enrich_asof(features, src, on="warc_ts", by="url",
                       value_cols=["first_text_len"])


def flagship_over_bucketed(spark, table: str, **kwargs) -> DataFrame:
    """The flagship feature + as-of pipeline over a ``write_bucketed``
    text_extracted table — ZERO exchanges end-to-end (plan-asserted in
    tests/test_layout.py).

    This is the 100 TB production shape: transcode+extract is
    shuffle-free row-parallel work paid once at ingest, the bucketed
    (uv_bucket / url, warc_ts-sorted) layout is written once, and every
    subsequent feature/as-of run over it shuffles NOTHING — windows,
    the as-of's included, partition by (bucket, key) on the
    materialized bucket."""
    from ultraviolet_spark.operators.windows import dedup_latest
    from ultraviolet_spark.plans.layout import BUCKET_COL, read_bucketed

    te = read_bucketed(spark, table)
    features = feature_vector(te, bucket_col=BUCKET_COL, **kwargs)
    src = dedup_latest(
        features, by=[BUCKET_COL, "url"], order="warc_ts", keep="first"
    ).select(BUCKET_COL, "url", "warc_ts",
             F.col("text_len").alias("first_text_len"))
    return enrich_asof(features, src, on="warc_ts", by="url",
                       value_cols=["first_text_len"], bucket_col=BUCKET_COL)


def run_checkpointed_pipeline(spark, pages: DataFrame, warehouse: str,
                              *, inputs_key: str,
                              gap_secs: float = SESSION_GAP_SECS_DEFAULT):
    """The flagship pipeline with snapshot checkpoints between stages
    (north_rule resumability).  Re-running after a kill skips every
    stage whose inputs are unchanged — each stage's fingerprint chains
    the upstream snapshot, so a changed input cascades recomputation
    exactly as far as needed.

    Returns (enriched_features_df, {stage: resumed_bool}).
    """
    from ultraviolet_spark.operators.windows import dedup_latest
    from ultraviolet_spark.plans.snapshots import (
        ParquetSnapshotFormat,
        fingerprint,
        run_stage,
    )

    fmt = ParquetSnapshotFormat(warehouse)
    resumed: dict[str, bool] = {}

    # Per-stage accumulator metrics ride the write pass via df.observe
    # (zero extra jobs) and land in fmt.observed_metrics() — the
    # cross-stage audit table (north_rule 'metrics tables').
    fp1 = fingerprint("text_extracted", inputs_key)
    te, resumed["text_extracted"] = run_stage(
        spark, fmt, "text_extracted", fp1, lambda: extract_stage(pages),
        observe={"text_bytes": F.sum(F.length("text")),
                 "min_warc_ts": F.min(F.unix_micros(
                     F.col("warc_ts").cast("timestamp"))),
                 "max_warc_ts": F.max(F.unix_micros(
                     F.col("warc_ts").cast("timestamp")))})

    fp2 = fingerprint("features", fp1, gap_secs)
    feats, resumed["features"] = run_stage(
        spark, fmt, "features", fp2,
        lambda: feature_vector(te, gap_secs=gap_secs),
        observe={"total_text_len": F.sum("text_len"),
                 "max_session_id": F.max("session_id")})

    def build_enriched() -> DataFrame:
        src = dedup_latest(feats, by=["url"], order="warc_ts", keep="first").select(
            "url", "warc_ts", F.col("text_len").alias("first_text_len"))
        return enrich_asof(feats, src, on="warc_ts", by="url",
                           value_cols=["first_text_len"])

    fp3 = fingerprint("features_enriched", fp2)
    enriched, resumed["features_enriched"] = run_stage(
        spark, fmt, "features_enriched", fp3, build_enriched)
    return enriched, resumed
