"""Anomaly scoring, on two paths with one set of constants.

* :func:`score_col` is Spark column math (JVM-side, codegen'd): the
  keyed, scalable path that ``_top``, ``predict_range``, the fleets
  and the catalog use.
* :func:`score_values` is its numpy mirror, for the one bounded series
  of an ``_eval``, scored on the driver.  It gives the same results,
  nulls and NaN included.

Semantics match the reference's compute_bucket_scores
(/root/reference/loudml/donut.py:899-924):

* ``mu = (lower + upper) / 2``, ``std = (upper - mu) / 3`` — the band
  is a ±3σ envelope;
* raw score = ``2·Φ(|observed − mu| / std) − 1`` ∈ [0, 1];
* sign flips when ``observed < predicted``; the per-feature
  ``anomaly_type`` (low / high / low_high) keeps only deviations in
  the direction of interest;
* final score = ``100 · clip(score, 0, 1)``.

Φ is the standard normal CDF.  Spark has no erf builtin and scipy is
not a dependency, so Φ uses the Abramowitz-Stegun 7.1.26 polynomial
(max abs error 1.5e-7 — invisible at score resolution), expressed as
Column arithmetic on the Spark path, so that path stays inside
whole-stage codegen with no Python boundary.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from loudml_spark import errors

_A1, _A2, _A3, _A4, _A5 = (
    0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_P = 0.3275911
_SQRT2 = 2.0 ** 0.5


def erf_col(x: Column) -> Column:
    """Abramowitz-Stegun 7.1.26 erf approximation (|err| ≤ 1.5e-7)."""
    sign = F.when(x < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_P) * ax)
    poly = (
        F.lit(_A1) * t
        + F.lit(_A2) * t * t
        + F.lit(_A3) * t * t * t
        + F.lit(_A4) * t * t * t * t
        + F.lit(_A5) * t * t * t * t * t
    )
    y = F.lit(1.0) - poly * F.exp(-ax * ax)
    return sign * y


def normal_cdf_col(x: Column) -> Column:
    """Standard normal CDF Φ(x)."""
    return F.lit(0.5) * (F.lit(1.0) + erf_col(x / F.lit(_SQRT2)))


# Acklam's rational approximation to the inverse normal CDF
# (|relative error| < 1.15e-9 — far below band resolution); replaces
# the reference's scipy norm().ppf for percent_interval band scaling
# (donut.py:1418 p = norm().ppf(1-(1-percent_interval)/2)).
_PPF_A = (-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00)
_PPF_B = (-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01)
_PPF_C = (-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00)
_PPF_D = (7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00)


def norm_ppf(p: float) -> float:
    """Inverse standard normal CDF Φ⁻¹(p) (scalar, driver-side)."""
    import math

    if not 0.0 < p < 1.0:
        raise errors.Invalid(f"ppf argument must be in (0, 1): {p}")
    a, b, c, d = _PPF_A, _PPF_B, _PPF_C, _PPF_D
    plow = 0.02425
    if p < plow:
        q = math.sqrt(-2.0 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                * q + c[5]) / \
               ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0)
    if p > 1.0 - plow:
        q = math.sqrt(-2.0 * math.log(1.0 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                 * q + c[5]) / \
               ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4])
            * r + a[5]) * q / \
           (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4])
            * r + 1.0)


def band_sigma_for(percent_interval: float) -> float:
    """Half-width in σ units of the central ``percent_interval`` band:
    p = Φ⁻¹(1 − (1 − percent_interval)/2) — donut.py:1418."""
    return norm_ppf(1.0 - (1.0 - percent_interval) / 2.0)


def score_col(
    observed: Column,
    predicted: Column,
    lower: Column,
    upper: Column,
    anomaly_type: str = "low_high",
) -> Column:
    """Anomaly score 0-100 per bucket (donut.py:899-924 semantics)."""
    if anomaly_type not in ("low", "high", "low_high"):
        raise errors.Invalid(f"invalid anomaly_type: {anomaly_type}")
    mu = (lower + upper) / F.lit(2.0)
    # std=0 → 1.0 to avoid div-by-zero (donut.py:650 convention)
    std_raw = (upper - mu) / F.lit(3.0)
    std = F.when(std_raw == 0, F.lit(1.0)).otherwise(std_raw)
    raw = F.lit(2.0) * normal_cdf_col(F.abs(observed - mu) / std) - F.lit(1.0)
    signed = F.when(observed - predicted < 0, -raw).otherwise(raw)
    if anomaly_type == "low":
        directional = -F.least(signed, F.lit(0.0))
    elif anomaly_type == "high":
        directional = F.greatest(signed, F.lit(0.0))
    else:
        directional = F.abs(signed)
    return F.lit(100.0) * F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), directional)
    )


def _erf_values(x: np.ndarray) -> np.ndarray:
    """:func:`erf_col` on a float array, term for term."""
    sign = np.where(x < 0, -1.0, 1.0)
    ax = np.abs(x)
    t = 1.0 / (1.0 + _P * ax)
    poly = (_A1 * t + _A2 * t * t + _A3 * t * t * t
            + _A4 * t * t * t * t + _A5 * t * t * t * t * t)
    return sign * (1.0 - poly * np.exp(-ax * ax))


def _least(x, x_null, c: float):
    """Spark ``least(x, c)``: a null ``x`` is skipped and NaN sorts
    above every number."""
    return np.where(x_null | np.isnan(x) | (c < x), c, x)


def _greatest(x, x_null, c: float):
    """Spark ``greatest(x, c)``: a null ``x`` is skipped and NaN sorts
    above every number."""
    return np.where(x_null | (c > x), c, x)


def score_values(
    observed,
    predicted,
    lower,
    upper,
    anomaly_type: str = "low_high",
) -> np.ndarray:
    """:func:`score_col` on the driver: the same constants and the same
    operations in the same order, over float arrays.  A null is a
    masked entry of a ``numpy.ma`` array; NaN is a NaN value.  The
    score is never null: like Spark's ``least``/``greatest``, the
    clamp skips nulls and ranks NaN above every number, so a null
    observed value or band scores 100 under ``low_high`` and 0 under
    ``low``/``high``, and a NaN observed value scores 100 under
    ``low_high`` and ``high`` and 0 under ``low``."""
    if anomaly_type not in ("low", "high", "low_high"):
        raise errors.Invalid(f"invalid anomaly_type: {anomaly_type}")
    (ob, ob_n), (pr, pr_n), (lo, lo_n), (up, up_n) = (
        (np.ma.getdata(a).astype(float), np.ma.getmaskarray(a))
        for a in (observed, predicted, lower, upper))
    with np.errstate(all="ignore"):
        mu = (lo + up) / 2.0
        std_raw = (up - mu) / 3.0
        std = np.where(std_raw == 0, 1.0, std_raw)
        x = np.abs(ob - mu) / std
        raw = 2.0 * (0.5 * (1.0 + _erf_values(x / _SQRT2))) - 1.0
        # a null comparison takes otherwise(raw), as in score_col
        signed = np.where(~pr_n & (ob - pr < 0), -raw, raw)
    signed_null = ob_n | lo_n | up_n
    if anomaly_type == "low":
        directional, d_null = -_least(signed, signed_null, 0.0), False
    elif anomaly_type == "high":
        directional, d_null = _greatest(signed, signed_null, 0.0), False
    else:
        directional, d_null = np.abs(signed), signed_null
    clipped = _least(directional, d_null, 1.0)
    # greatest(0.0, clipped) keeps its first argument on a tie: +0.0
    return 100.0 * np.where(clipped > 0.0, clipped, 0.0)


def with_scores(
    df: DataFrame,
    observed: str = "observed",
    predicted: str = "predicted",
    lower: str = "lower",
    upper: str = "upper",
    anomaly_type: str = "low_high",
    out_col: str = "score",
    mse_col_name: str | None = "mse",
) -> DataFrame:
    """Attach score (and per-bucket squared error) columns."""
    out = df.withColumn(
        out_col,
        score_col(
            F.col(observed), F.col(predicted),
            F.col(lower), F.col(upper), anomaly_type,
        ),
    )
    if mse_col_name:
        out = out.withColumn(
            mse_col_name, F.pow(F.col(observed) - F.col(predicted), 2)
        )
    return out
