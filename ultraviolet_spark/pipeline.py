"""End-to-end feature pipeline (SURVEY.md §3.1–3.2, the flagship).

    pages ──extract_stage(mapInArrow: decode+validate+extract)──▶ text_extracted
          ──feature_vector(window ops, one shuffle on url)──────▶ features
          ──asof_join(features ⟕ their own first crawl per url)─▶ enriched

Shuffle census at scale: extract_stage is shuffle-free; feature_vector
costs ONE hash exchange on `url` (all window functions share the same
partitioning); the as-of is one more window over the features, whose
right rows (each url's first crawl, flagged by a row_number in the
features' own Window node) are tagged by a generator on the same rows:
the right-from-left form of ``asof_join``.  It moves nothing, reads the
features once and persists nothing.  The whole flagship is one exchange
and one Python node (the extract MapInArrow) — asserted in
tests/test_plans.py.

The plan is built in a few projections: the extract stage's select and
MapInArrow, two feature projections (``session_id``'s window reads
``gap_secs``, so it needs the second) and the as-of's generator, window,
filter and final select.  Each DataFrame transformation re-analyzes the
whole plan on the driver while the executors wait.

``run_checkpointed_pipeline`` snapshots the same three stages
(text_extracted, features, features_enriched).  Its text_extracted
snapshot already holds ``text_len`` and ``cp_hist`` from the fused
extract pass, so the checkpointed path has the same one Python node.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ultraviolet_spark.functions.udfs import extract_stage
from ultraviolet_spark.operators.asof import asof_join
from ultraviolet_spark.operators.windows import (
    SESSION_GAP_SECS_DEFAULT,
    ffill_col,
    gap_secs_col,
    key_window,
    lag_cols,
    lang_stability_cols,
    session_id_col,
)

FEATURE_COLS = [
    "url", "warc_ts", "text_len", "cp_hist", "lang",
    "lang_stable_lag1", "lang_stable_lag2", "gap_secs", "session_id",
    "text_len_lag1", "text_len_ffill",
]

_FIRST = "__first_crawl"


def feature_vector(
    text_extracted: DataFrame,
    *,
    by: str = "url",
    order: str = "warc_ts",
    gap_secs: float = SESSION_GAP_SECS_DEFAULT,
    extra_cols: tuple[str | Column, ...] = (),
    bucket_col: str | None = None,
) -> DataFrame:
    """text_extracted → features (SURVEY.md §1.2 schema).  All window
    frames end at currentRow — no temporal leakage.  The input carries
    ``text_len`` and ``cp_hist`` from ``extract_stage(…,
    with_features=True)``; this stage adds no Python node.

    Two projections: every window column that reads only the input,
    then ``session_id``, whose window reads ``gap_secs``.  ``extra_cols``
    are pass-through names or Columns evaluated in the second
    projection, beside ``session_id``.

    ``bucket_col``: name of a materialized bucket column (written by
    plans.layout.write_bucketed).  Windows then partition by
    (bucket, key) — semantically identical since bucket = f(key) — so a
    bucketed-table scan satisfies the clustering requirement and the
    whole feature stage plans with ZERO exchanges (tests/test_layout.py).
    """
    w = key_window(by if bucket_col is None else [bucket_col, by], order)
    f = text_extracted.withColumns({
        **lang_stability_cols(w),
        "gap_secs": gap_secs_col(w, order),
        **lag_cols(["text_len"], w),
        # forward-fill of the last *cleanly decoded* length: rows whose
        # html needed replacements observe null and inherit the last
        # clean value.
        "text_len_ffill": ffill_col(
            F.when(F.col("valid_utf8"), F.col("text_len")), w),
    })
    bucket_extra = () if bucket_col is None else (bucket_col,)
    return f.select(
        *[session_id_col(w, gap_secs).alias(c) if c == "session_id" else c
          for c in FEATURE_COLS], *bucket_extra, *extra_cols)


def compute_features(pages: DataFrame, **kwargs) -> DataFrame:
    return feature_vector(extract_stage(pages, with_features=True), **kwargs)


def enrich_asof(features: DataFrame, feature_src: DataFrame | str,
                **kwargs) -> DataFrame:
    """features ⟕ (backward as-of) feature_src on (url, warc_ts).
    ``feature_src`` may name a boolean column of ``features`` instead:
    the right-from-left form of ``asof_join``."""
    return asof_join(features, feature_src, **kwargs)


def _first_crawl(keys) -> Column:
    """True on each url's first crawl: the as-of's right rows.  Same
    window as the features, so it shares their Window node."""
    return (F.row_number().over(key_window(keys, "warc_ts")) == 1).alias(_FIRST)


def _enrich_first_crawl(features: DataFrame, **kwargs) -> DataFrame:
    """``features`` (carrying ``_FIRST``) ⟕ backward as-of its own
    first crawl per url, as ``first_text_len``."""
    return enrich_asof(features, _FIRST, on="warc_ts", by="url",
                       value_cols={"first_text_len": "text_len"}, **kwargs)


def flagship_enriched(pages: DataFrame, **kwargs) -> DataFrame:
    """pages → features → backward-as-of enrichment against the per-url
    first-crawl snapshot.  The right side is the features' own first
    crawl, so the as-of takes its right-from-left form: the feature rows
    are read once and tagged by a generator instead of feeding two union
    branches, and nothing is persisted."""
    features = feature_vector(extract_stage(pages, with_features=True),
                              extra_cols=(_first_crawl("url"),), **kwargs)
    return _enrich_first_crawl(features)


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
    from ultraviolet_spark.plans.layout import BUCKET_COL, read_bucketed

    keys = [BUCKET_COL, "url"]
    features = feature_vector(read_bucketed(spark, table), bucket_col=BUCKET_COL,
                              extra_cols=(_first_crawl(keys),), **kwargs)
    return _enrich_first_crawl(features, bucket_col=BUCKET_COL)


def run_checkpointed_pipeline(spark, pages: DataFrame, warehouse: str,
                              *, inputs_key: str,
                              gap_secs: float = SESSION_GAP_SECS_DEFAULT):
    """The flagship pipeline with snapshot checkpoints between stages
    (north_rule resumability).  Re-running after a kill skips every
    stage whose inputs are unchanged.  Each stage's input fingerprint
    chains the upstream stage's resume key (its inputs plus its build's
    code version, ``snapshots.stage_key``), so a changed input or a
    changed upstream build cascades recomputation exactly as far as
    needed.

    Returns (enriched_features_df, {stage: resumed_bool}).
    """
    from ultraviolet_spark.plans.snapshots import (
        ParquetSnapshotFormat,
        fingerprint,
        run_stage,
        stage_key,
    )

    fmt = ParquetSnapshotFormat(warehouse)
    resumed: dict[str, bool] = {}

    def build_extracted() -> DataFrame:
        return extract_stage(pages, with_features=True)

    # Per-stage accumulator metrics ride the write pass via df.observe
    # (zero extra jobs) and land in fmt.observed_metrics() — the
    # cross-stage audit table (north_rule 'metrics tables').
    fp1 = fingerprint("text_extracted", inputs_key)
    te, resumed["text_extracted"] = run_stage(
        spark, fmt, "text_extracted", fp1, build_extracted,
        observe={"text_bytes": F.sum(F.length("text")),
                 "min_warc_ts": F.min(F.unix_micros(
                     F.col("warc_ts").cast("timestamp"))),
                 "max_warc_ts": F.max(F.unix_micros(
                     F.col("warc_ts").cast("timestamp")))})

    def build_features() -> DataFrame:
        return feature_vector(te, gap_secs=gap_secs)

    fp2 = fingerprint("features", stage_key(fp1, build_extracted), gap_secs)
    feats, resumed["features"] = run_stage(
        spark, fmt, "features", fp2, build_features,
        observe={"total_text_len": F.sum("text_len"),
                 "max_session_id": F.max("session_id")})

    def build_enriched() -> DataFrame:
        return _enrich_first_crawl(feats.select("*", _first_crawl("url")))

    fp3 = fingerprint("features_enriched", stage_key(fp2, build_features))
    enriched, resumed["features_enriched"] = run_stage(
        spark, fmt, "features_enriched", fp3, build_enriched)
    return enriched, resumed
