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

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loudml_spark.ml.donut_np import (
    donut_fit_values,
    donut_forecast_values,
    donut_predict_values,
    search_hyperparams_np,
)
from loudml_spark.ml.models import BAND_SIGMA


def _key_seed(key: tuple, base_seed: int) -> int:
    return base_seed + zlib.crc32("|".join(map(str, key)).encode()) % 10**6


def _key_hyperparams(vals, span, latent_dim, intermediate_dim, *,
                     max_evals, search_epochs, seed):
    """(span, latent, hidden) for one key: as given, or with
    ``span="auto"`` the per-key search's pick — None when the series
    is too short for any candidate."""
    if span != "auto":
        return span, latent_dim, intermediate_dim
    try:
        best = search_hyperparams_np(
            vals, max_evals=max_evals, epochs=search_epochs, seed=seed)
    except ValueError:
        return None
    return best["span"], best["latent_dim"], best["intermediate_dim"]


def _with_keys(rows: pd.DataFrame, key_cols, keys) -> pd.DataFrame:
    for i, k in enumerate(key_cols):
        rows.insert(i, k, keys[i])
    return rows


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
    if train_before is None:
        cut = int(len(vals) * 2 / 3)
    else:
        cut = int(np.searchsorted(ts, train_before))
    kseed = _key_seed(keys, seed)
    hp = _key_hyperparams(
        vals[:cut], span, latent_dim, intermediate_dim,
        max_evals=max_evals, search_epochs=search_epochs, seed=kseed)
    # too little training data, or nothing to score (the series ends
    # at/before the cut) → empty, not a crash inside the executor
    if hp is None or cut <= hp[0] + 2 or cut >= len(vals):
        return pd.DataFrame(
            columns=[*key_cols, ts_col, "observed", "predicted",
                     "lower", "upper"]
        )
    k_span, k_latent, k_inter = hp
    state = donut_fit_values(
        vals[:cut], span=k_span, latent_dim=k_latent,
        intermediate_dim=k_inter, epochs=epochs, seed=kseed)
    # score everything from the cut onward (history reaches back
    # span-1 buckets, donut.py:1210-1217)
    pred, sig = donut_predict_values(
        state, vals[cut - k_span + 1:], span=k_span, seed=kseed)
    return _with_keys(pd.DataFrame({
        ts_col: ts[cut:],
        "observed": vals[cut:],
        "predicted": pred,
        "lower": pred - BAND_SIGMA * sig,
        "upper": pred + BAND_SIGMA * sig,
    }), key_cols, keys)


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

    band_sigma_for(percent_interval)  # raise Invalid here, not per key
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
            epochs=epochs, percent_interval=percent_interval,
            percent_noise=percent_noise,
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
    percent_interval: float = 0.68,
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
    hp = _key_hyperparams(
        vals, span, latent_dim, intermediate_dim,
        max_evals=max_evals, search_epochs=search_epochs, seed=kseed)
    if hp is None or len(vals) <= hp[0] + 2:
        return pd.DataFrame(
            columns=[*key_cols, ts_col, "predicted", "lower", "upper",
                     *(["constraint_breach"] if c else [])])
    k_span, k_latent, k_inter = hp
    state = donut_fit_values(
        vals, span=k_span, latent_dim=k_latent, intermediate_dim=k_inter,
        epochs=epochs, seed=kseed)
    pred, half = donut_forecast_values(
        state, horizon, span=k_span, seed=kseed,
        percent_interval=percent_interval, percent_noise=percent_noise,
        bucket_interval=bucket_interval)
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
    return _with_keys(rows, key_cols, keys)
