"""Reference-semantics oracle: brute-force pandas/numpy implementations of
every feature the engine materializes (SURVEY.md §5 rebuild test plan #1/#3).

Deliberately naive — per-row loops, no merge tricks — so it shares NO logic
with the engine's distributed implementations.  The engine is checked
against this via numpy.allclose (numeric), exact equality (ids/captions),
PSNR ≥ 40 dB (decoded pixels of lossy formats).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from feature_store_spark.functions.images import (
    decode_image,
    decode_stats,
    phash64,
)

FEATURE_STAT_COLS = [
    "phash", "dec_w", "dec_h",
    "mean_r", "mean_g", "mean_b", "std_r", "std_g", "std_b",
]


def oracle_image_features(images: pd.DataFrame) -> pd.DataFrame:
    """Decode every row's bytes → phash + stats columns (bytes dropped)."""
    recs = []
    for _, row in images.iterrows():
        px = decode_image(bytes(row["bytes"]))
        stats = decode_stats(px)
        recs.append(
            {
                "phash": phash64(px),
                "dec_w": px.shape[1],
                "dec_h": px.shape[0],
                **dict(zip(["mean_r", "mean_g", "mean_b", "std_r", "std_g", "std_b"], stats)),
            }
        )
    out = images.drop(columns=["bytes"]).reset_index(drop=True)
    return pd.concat([out.drop(columns=[c for c in FEATURE_STAT_COLS if c in out]),
                      pd.DataFrame(recs)], axis=1)


def oracle_asof(
    obs: pd.DataFrame,
    features: pd.DataFrame,
    on: str,
    obs_time: str,
    feature_time: str,
    feature_cols: list[str],
    lookback_us: int | None = None,
    tiebreak: list[str] | None = None,
) -> pd.DataFrame:
    """Per-obs-row max-filter: latest feature row with ts <= obs_ts
    (inclusive), ties broken by max(tiebreak...)."""
    tiebreak = tiebreak or []
    out_rows = []
    fgrp = dict(tuple(features.groupby(on)))
    for _, orow in obs.iterrows():
        cand = fgrp.get(orow[on])
        rec = dict(orow)
        rec["feature_ts"] = pd.NaT
        for c in feature_cols:
            rec[c] = None
        if cand is not None:
            sel = cand[cand[feature_time] <= orow[obs_time]]
            if lookback_us is not None and len(sel):
                age_us = (
                    orow[obs_time] - sel[feature_time]
                ).dt.total_seconds() * 1e6
                sel = sel[age_us <= lookback_us]
            if len(sel):
                sel = sel.sort_values(
                    [feature_time, *tiebreak], kind="stable"
                )
                best = sel.iloc[-1]
                rec["feature_ts"] = best[feature_time]
                for c in feature_cols:
                    rec[c] = best[c]
        out_rows.append(rec)
    return pd.DataFrame(out_rows)


def oracle_rolling_sum_count(
    df: pd.DataFrame, entity: str, ts: str, val: str, window_s: int
) -> pd.DataFrame:
    """Inclusive-bounds [t - window, t] rolling sum/count per entity."""
    sums, cnts = [], []
    for _, row in df.iterrows():
        grp = df[df[entity] == row[entity]]
        lo = row[ts] - pd.Timedelta(seconds=window_s)
        sel = grp[(grp[ts] >= lo) & (grp[ts] <= row[ts])]
        sums.append(sel[val].sum())
        cnts.append(len(sel))
    out = df.copy()
    out["roll_sum"] = sums
    out["roll_cnt"] = cnts
    return out


def oracle_sessionize(
    df: pd.DataFrame, entity: str, ts: str, gap_s: int,
    tiebreak: list[str] | None = None,
) -> pd.DataFrame:
    """Gap-based session index per entity (0-based)."""
    out = df.sort_values([entity, ts, *(tiebreak or [])], kind="stable").copy()
    idxs = []
    for _, grp in out.groupby(entity, sort=False):
        prev_t, sess = None, 0
        for t in grp[ts]:
            if prev_t is not None and (t - prev_t).total_seconds() > gap_s:
                sess += 1
            idxs.append(sess)
            prev_t = t
    out["session_idx"] = idxs
    return out
