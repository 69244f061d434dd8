"""Donut-VAE fleet: one VAE per series key, trained and scored inside
executors.

The reference binds one model process to one series
(loudml/donut.py:543-545 rejects multi-feature, one training job per
model).  Here ``applyInPandas`` fans the *same* estimator out over
every key of a keyed bucket series: each group's (small, aggregated)
series is trained with the pure-numpy VAE locally on the executor —
thousands of independent models per cluster pass, no driver
round-trips.  Seeds derive deterministically from the key so results
are stable across partitionings and reruns.
"""

from __future__ import annotations

import json
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loudml_spark.ml.donut_np import NumpyVAE
from loudml_spark.ml.models import BAND_SIGMA


def _key_seed(key: tuple, base_seed: int) -> int:
    return base_seed + zlib.crc32("|".join(map(str, key)).encode()) % 10**6


def donut_fit_predict_group(
    keys,
    pdf: pd.DataFrame,
    *,
    key_cols: list[str],
    span=24,
    latent_dim: int = 3,
    intermediate_dim: int = 34,
    epochs: int = 40,
    train_before: int | None = None,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    seed: int = 42,
    max_evals: int = 6,
    search_epochs: int = 10,
) -> pd.DataFrame:
    """Pure per-key fit+predict: deterministic function of the key
    tuple and its (ts, value) group.  Module-level (not a closure) so
    the DuckDB oracle generator can call the EXACT code the Spark
    executors run (catalog_oracle_ml.py) — the fleet analogue of the
    shared IVF k-means path."""
    pdf = pdf.sort_values(ts_col).reset_index(drop=True)
    vals = pdf[value_col].to_numpy(dtype=float)
    ts = pdf[ts_col].to_numpy()
    cut = train_before
    if cut is None:
        cut_idx = int(len(vals) * 2 / 3)
    else:
        cut_idx = int(np.searchsorted(ts, cut))
    kseed0 = _key_seed(keys, seed)
    if span == "auto":
        from loudml_spark.ml.donut_np import search_hyperparams_np

        try:
            best = search_hyperparams_np(
                vals[:cut_idx], max_evals=max_evals,
                epochs=search_epochs, seed=kseed0,
            )
        except ValueError:
            return pd.DataFrame(
                columns=[*key_cols, ts_col, "observed", "predicted",
                         "lower", "upper"]
            )
        k_span, k_latent, k_inter = (
            best["span"], best["latent_dim"], best["intermediate_dim"])
    else:
        k_span, k_latent, k_inter = span, latent_dim, intermediate_dim
    train = vals[:cut_idx]
    # nothing to score (series ends at/before the cut) or not
    # enough history for even one query window → empty, not a
    # sliding_window_view crash inside the executor
    if (
        len(train) <= k_span + 2
        or cut_idx >= len(vals)
        or len(vals) - max(0, cut_idx - k_span + 1) < k_span
    ):
        return pd.DataFrame(
            columns=[*key_cols, ts_col, "observed", "predicted",
                     "lower", "upper"]
        )
    mean = float(np.nanmean(train))
    std = float(np.nanstd(train))
    # NaN is truthy — `or 1.0` would NOT catch an all-missing
    # slice; mirror DonutModel.fit's explicit convention
    std = 1.0 if std == 0 or np.isnan(std) else std
    mean = 0.0 if np.isnan(mean) else mean

    def windows(v):
        scaled = (v - mean) / std
        mask = (~np.isnan(scaled)).astype(float)
        scaled = np.nan_to_num(scaled, nan=0.0)
        X = np.lib.stride_tricks.sliding_window_view(
            scaled, k_span).copy()
        M = np.lib.stride_tricks.sliding_window_view(
            mask, k_span).copy()
        return X, M

    vae = NumpyVAE(k_span, k_latent, k_inter, kseed0)
    Xt, Mt = windows(train)
    vae.fit(Xt, Mt, epochs=epochs)

    # score everything from the cut onward (history reaches back
    # span-1 buckets, donut.py:1210-1217)
    lo = max(0, cut_idx - k_span + 1)
    Xq, Mq = windows(vals[lo:])
    Mq2 = Mq.copy()
    Mq2[:, -1] = 0.0
    rng = np.random.default_rng(kseed0 + 7)
    mu, sigma = vae.reconstruct(Xq, Mq2, rng)
    pred = mu[:, -1] * std + mean
    sig = sigma[:, -1] * std
    out_ts = ts[lo + k_span - 1:]
    keep = out_ts >= ts[cut_idx] if cut_idx < len(ts) else \
        np.zeros(len(out_ts), bool)
    rows = pd.DataFrame({
        ts_col: out_ts[keep],
        "observed": vals[lo + k_span - 1:][keep],
        "predicted": pred[keep],
        "lower": (pred - BAND_SIGMA * sig)[keep],
        "upper": (pred + BAND_SIGMA * sig)[keep],
    })
    for i, k in enumerate(key_cols):
        rows.insert(i, k, keys[i])
    return rows


def donut_fit_predict_many(
    series_df: DataFrame,
    key_cols: list[str],
    *,
    span=24,
    latent_dim: int = 3,
    intermediate_dim: int = 34,
    epochs: int = 40,
    train_before: int | None = None,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    seed: int = 42,
    max_evals: int = 6,
    search_epochs: int = 10,
) -> DataFrame:
    """Train on buckets `< train_before` (default: first 2/3) and
    score the rest, per key.  Output: (keys..., bucket_ts, observed,
    predicted, lower, upper).

    ``span="auto"`` runs the max_evals-budgeted joint hyper-search
    PER KEY inside the executor (seeded from the key — deterministic
    across partitionings): thousands of series each pick their own
    (span, latent, hidden) in one cluster pass, something the
    reference's one-process-per-model architecture cannot express."""
    schema = ", ".join(
        [f"{k} string" for k in key_cols]
        + [f"{ts_col} long", "observed double", "predicted double",
           "lower double", "upper double"]
    )

    def fn(keys, pdf):
        return donut_fit_predict_group(
            keys, pdf, key_cols=key_cols, span=span,
            latent_dim=latent_dim, intermediate_dim=intermediate_dim,
            epochs=epochs, train_before=train_before, ts_col=ts_col,
            value_col=value_col, seed=seed, max_evals=max_evals,
            search_epochs=search_epochs,
        )

    return series_df.groupBy(*key_cols).applyInPandas(fn, schema=schema)


def donut_forecast_many(
    series_df: DataFrame,
    key_cols: list[str],
    *,
    horizon: int,
    span=24,
    latent_dim: int = 3,
    intermediate_dim: int = 34,
    epochs: int = 40,
    percent_interval: float = 0.68,
    percent_noise: float = 0.0,
    bucket_interval: int = 3600,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    seed: int = 42,
    max_evals: int = 6,
    search_epochs: int = 10,
    constraint: str | dict | None = None,
) -> DataFrame:
    """Per-key roll-forward forecast: train one VAE per key on its full
    series and forecast ``horizon`` buckets past its end, entirely
    inside executors (``applyInPandas``) — the fleet version of
    DonutModel.forecast (donut.py:1333-1475), which the reference
    architecturally cannot do (one process per model).  Deterministic
    per key.  ``span="auto"`` runs the per-key hyper-search first,
    like donut_fit_predict_many.  Output: (keys..., bucket_ts,
    predicted, lower, upper).

    ``constraint`` ("feature:low|high:threshold", misc.py:311-330
    grammar, or the parsed dict) adds a ``constraint_breach`` boolean
    column flagging the FIRST violating bucket per key.  The
    single-model path raises at the first violation
    (api.test_constraint); a fleet must not let one bad key kill a
    thousand good ones, so violations are data, not exceptions —
    filter ``constraint_breach`` to alert.
    """
    from loudml_spark.ml.scoring import band_sigma_for

    c = None
    if constraint is not None:
        from loudml_spark.api import parse_constraint

        c = (parse_constraint(constraint)
             if isinstance(constraint, str) else dict(constraint))
        if c["feature"] != value_col:
            from loudml_spark import errors

            raise errors.Invalid(
                f"unknown constraint feature: {c['feature']!r} "
                f"(fleet value column is {value_col!r})"
            )

    p = band_sigma_for(percent_interval)
    schema = ", ".join(
        [f"{k} string" for k in key_cols]
        + [f"{ts_col} long", "predicted double",
           "lower double", "upper double"]
        + (["constraint_breach boolean"] if c else [])
    )

    def fn(keys, pdf):
        return donut_forecast_group(
            keys, pdf, key_cols=key_cols, horizon=horizon, span=span,
            latent_dim=latent_dim, intermediate_dim=intermediate_dim,
            epochs=epochs, p=p, percent_noise=percent_noise,
            bucket_interval=bucket_interval, ts_col=ts_col,
            value_col=value_col, seed=seed, max_evals=max_evals,
            search_epochs=search_epochs, constraint=c,
        )

    return series_df.groupBy(*key_cols).applyInPandas(fn, schema=schema)


def donut_forecast_group(
    keys,
    pdf: pd.DataFrame,
    *,
    key_cols: list[str],
    horizon: int,
    span=24,
    latent_dim: int = 3,
    intermediate_dim: int = 34,
    epochs: int = 40,
    p: float = 1.0,
    percent_noise: float = 0.0,
    bucket_interval: int = 3600,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    seed: int = 42,
    max_evals: int = 6,
    search_epochs: int = 10,
    constraint: dict | None = None,
) -> pd.DataFrame:
    """Pure per-key roll-forward forecast (see
    :func:`donut_fit_predict_group` for why this is module-level:
    the oracle generator replays it verbatim)."""
    c = constraint
    pdf = pdf.sort_values(ts_col).reset_index(drop=True)
    vals = pdf[value_col].to_numpy(dtype=float)
    ts = pdf[ts_col].to_numpy()
    kseed = _key_seed(keys, seed)
    empty = pd.DataFrame(
        columns=[*key_cols, ts_col, "predicted", "lower", "upper",
                 *(["constraint_breach"] if c else [])])
    if span == "auto":
        from loudml_spark.ml.donut_np import search_hyperparams_np

        try:
            best = search_hyperparams_np(
                vals, max_evals=max_evals, epochs=search_epochs,
                seed=kseed)
        except ValueError:
            return empty
        k_span, k_latent, k_inter = (
            best["span"], best["latent_dim"],
            best["intermediate_dim"])
    else:
        k_span, k_latent, k_inter = span, latent_dim, intermediate_dim
    if len(vals) <= k_span + 2:
        return empty
    mean = float(np.nanmean(vals))
    std = float(np.nanstd(vals))
    std = 1.0 if std == 0 or np.isnan(std) else std
    mean = 0.0 if np.isnan(mean) else mean
    scaled = np.nan_to_num((vals - mean) / std, nan=0.0)
    mask = (~np.isnan(vals)).astype(float)
    X = np.lib.stride_tricks.sliding_window_view(scaled, k_span).copy()
    M = np.lib.stride_tricks.sliding_window_view(mask, k_span).copy()
    vae = NumpyVAE(k_span, k_latent, k_inter, kseed)
    vae.fit(X, M, epochs=epochs)
    # [-(span-1):] with span == 1 is [-0:] == the whole array
    tail = slice(-(k_span - 1), None) if k_span > 1 else slice(0, 0)
    window = np.concatenate([scaled[tail], [0.0]])
    wmask = np.concatenate([mask[tail], [0.0]])
    rng = np.random.default_rng(kseed + 13)
    noise = percent_noise * float(bucket_interval) / 86400.0
    y, sig = vae.forecast_roll(window, wmask, horizon, rng,
                               noise=noise)
    pred = y * std + mean
    half = p * sig * std
    start = int(ts[-1]) + bucket_interval
    rows = pd.DataFrame({
        ts_col: [start + j * bucket_interval for j in range(horizon)],
        "predicted": pred,
        "lower": pred - half,
        "upper": pred + half,
    })
    if c:
        viol = (pred < c["threshold"] if c["type"] == "low"
                else pred > c["threshold"])
        breach = np.zeros(horizon, dtype=bool)
        hit = np.flatnonzero(viol)
        if hit.size:
            breach[hit[0]] = True
        rows["constraint_breach"] = breach
    for i, k in enumerate(key_cols):
        rows.insert(i, k, keys[i])
    return rows


def states_json(models: dict) -> str:
    """Serialize a {key: NumpyVAE} fleet for storage."""
    return json.dumps({k: v.state_dict() for k, v in models.items()})
