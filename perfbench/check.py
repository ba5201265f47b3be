"""Output checks of the benchmark, in plain pandas.

A job's output passes when it has one row per input page and, on a
sample of urls, equals the independent features oracle
``fixtures.make_features_golden.golden_features``: ``text_len`` and
``cp_hist`` exactly, the other feature columns to float tolerance, and
``first_text_len`` equal to the ``text_len`` of the url's first crawl.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EXACT = ("text_len", "lang", "lang_stable_lag1", "lang_stable_lag2", "session_id")
CLOSE = ("gap_secs", "text_len_lag1", "text_len_ffill")


def sample_urls(urls: pd.Series, seed: int, k: int) -> list[str]:
    """``k`` urls drawn with ``seed``, plus the url with the most crawls
    (the hot key), which is always included."""
    counts = urls.value_counts(sort=False)
    hottest = counts.index[int(np.argmax(counts.to_numpy()))]
    rest = counts.index[counts.index != hottest].to_numpy()
    rng = np.random.default_rng([seed, 7])
    pick = rng.choice(len(rest), size=min(k, len(rest)), replace=False)
    return [hottest] + sorted(rest[pick].tolist())


def _ts_ns(s: pd.Series) -> pd.Series:
    s = pd.to_datetime(s)
    if s.dt.tz is None:
        s = s.dt.tz_localize("UTC")
    return s.dt.tz_convert("UTC").astype("int64")


def oracle_problems(pages: pd.DataFrame, out: pd.DataFrame) -> list[str]:
    """Compare ``out`` (the job's rows for the urls in ``pages``) with
    the oracle's features of ``pages``.  Returns one line per problem;
    an empty list means the output is correct."""
    from fixtures.make_features_golden import golden_features

    pages = pages.assign(warc_ts=pd.to_datetime(pages["warc_ts"], utc=True)
                         .dt.tz_convert(None))
    want = golden_features(pages).assign(warc_ts=lambda d: _ts_ns(d["warc_ts"]))
    got = out.assign(warc_ts=_ts_ns(out["warc_ts"]))
    problems = []
    if len(got) != len(want):
        problems.append(f"{len(got)} output rows for the sampled urls, "
                        f"oracle has {len(want)}")
    m = want.merge(got, on=["url", "warc_ts"], suffixes=("_w", "_g"))
    if len(m) != len(want):
        problems.append(f"{len(want) - len(m)} oracle rows missing from the output")
    for c in EXACT:
        w, g = m[f"{c}_w"], m[f"{c}_g"]
        bad = int((w.astype(object) != g.astype(object)).sum())
        if bad:
            problems.append(f"{c}: {bad} rows differ from the oracle")
    for c in CLOSE:
        w = m[f"{c}_w"].astype("Float64").to_numpy(dtype=float, na_value=np.nan)
        g = m[f"{c}_g"].astype("Float64").to_numpy(dtype=float, na_value=np.nan)
        bad = int((~np.isclose(w, g, rtol=1e-9, atol=0.0, equal_nan=True)).sum())
        if bad:
            problems.append(f"{c}: {bad} rows not close to the oracle")
    hw = np.array(m["cp_hist_w"].tolist(), dtype=np.int64).reshape(len(m), -1)
    hg = np.array([list(h) for h in m["cp_hist_g"]], dtype=np.int64).reshape(len(m), -1)
    if hw.shape != hg.shape or (hw != hg).any():
        problems.append("cp_hist differs from the oracle")
    first = want.sort_values("warc_ts").groupby("url")["text_len"].first()
    differs = m["first_text_len"].astype("Int64") != m["url"].map(first).astype("Int64")
    bad = int(differs.fillna(True).sum())
    if bad:
        problems.append(f"first_text_len: {bad} rows differ from the first crawl's text_len")
    return problems
