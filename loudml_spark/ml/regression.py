"""Window-regression model: learned autoregressive predictor.

Plays the role of the reference's learned model (Donut VAE,
loudml/donut.py) with a deterministic, dependency-free estimator:
ridge regression from the previous ``span`` buckets to the next one,
solved in closed form (normal equations) on the driver — the training
series is an *aggregated* bucket series (≤ tens of thousands of
floats by construction, loudml's own sizing: docs/reference/
glossary.asciidoc:20-27), so collecting it is the right call at any
source-data scale.

Scoring path parity with the reference: z-scored inputs, predicted ±
3σ band from training residuals, same anomaly-score math downstream.
Forecast = sequential roll-forward (donut.py:1333-1475) — a driver
loop bounded by horizon/interval, never by data volume.

Fleet mode (:func:`fit_many`, :func:`predict_many`): thousands of
independent series train in parallel via ``applyInPandas`` (one
closed-form solve per key inside executors) — the keyed fan-out the
reference cannot do (single-series models, donut.py:543-545).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from loudml_spark import errors
from loudml_spark.ml.models import BAND_SIGMA, BaseModel, collect_series


def _solve_spd(A: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Deterministic SPD solve — manual Cholesky + substitution built
    on elementwise ops and ``np.sum`` (pairwise, BLAS-free).

    ``np.linalg.solve`` / ``@`` dispatch to BLAS/LAPACK kernels whose
    summation order depends on process environment (threading,
    allocation alignment), drifting ~1 ulp between the driver and
    Spark's Python workers.  The AR oracle replays the fit in the
    driver and compares bit-for-bit against executor-fit predictions
    (catalog_oracle_ml.sql_ar_fleet_predict_6h), so the fit must be a
    pure function of its float64 inputs.  A is (span+1)² — tiny; the
    O(n³) Python-loop Cholesky is microseconds."""
    n = A.shape[0]
    L = np.zeros_like(A)
    for j in range(n):
        d = A[j, j] - np.sum(L[j, :j] * L[j, :j])
        L[j, j] = np.sqrt(d)
        if j + 1 < n:
            L[j + 1:, j] = (
                A[j + 1:, j] - np.sum(L[j + 1:, :j] * L[j, :j], axis=1)
            ) / L[j, j]
    y = np.zeros(n)
    for i in range(n):
        y[i] = (b[i] - np.sum(L[i, :i] * y[:i])) / L[i, i]
    x = np.zeros(n)
    for i in range(n - 1, -1, -1):
        x[i] = (y[i] - np.sum(L[i + 1:, i] * x[i + 1:])) / L[i, i]
    return x


def _fit_arrays(values: np.ndarray, span: int, ridge: float):
    """Closed-form ridge fit on a 1-D series; returns (weights[span+1]
    with bias last, sigma).  NaNs are forward/back-filled first.

    Every reduction is einsum(optimize=False)/np.sum — single-threaded
    deterministic C loops, never BLAS — so the same inputs produce the
    same bits in any process (see _solve_spd)."""
    v = pd.Series(values).ffill().bfill().to_numpy(dtype=float)
    n = len(v) - span
    if n < 2:
        raise errors.Invalid(
            f"need more than span+2={span + 2} buckets to fit, got {len(v)}"
        )
    X = np.lib.stride_tricks.sliding_window_view(v[:-1], span)[:n]
    y = v[span:]
    mu, sd = float(np.mean(v)), float(np.std(v))
    if sd == 0:
        sd = 1.0  # donut.py:650 convention
    Xs, ys = (X - mu) / sd, (y - mu) / sd
    Xb = np.hstack([Xs, np.ones((n, 1))])
    A = np.einsum("ij,ik->jk", Xb, Xb, optimize=False) \
        + ridge * np.eye(span + 1)
    w = _solve_spd(A, np.einsum("ij,i->j", Xb, ys, optimize=False))
    resid = ys - np.einsum("ij,j->i", Xb, w, optimize=False)
    sigma = float(np.std(resid) * sd)
    if sigma == 0:
        sigma = 1.0
    return w, mu, sd, sigma


def _predict_window(window, w: np.ndarray, mu: float, sd: float) -> float:
    """Next value from the ``span`` previous ones.  Every AR scoring
    path (forecast, impute, :func:`predict_many`'s UDF and its oracle
    mirror :func:`ar_predict_values`) calls this one function."""
    xs = (np.asarray(window, dtype=float) - mu) / sd
    # np.sum (pairwise, BLAS-free), NOT `@`: BLAS ddot picks
    # env-dependent kernels (driver vs Spark-worker process configs
    # differ by ~1 ulp) — pairwise summation is bit-stable across
    # processes (see _solve_spd)
    return float((np.sum(xs * w[:-1]) + w[-1]) * sd + mu)


class WindowRegressionModel(BaseModel):
    """AR(span) ridge predictor with residual ±3σ bands."""

    TYPE = "window_regression"

    def __init__(self, *args, span: int = 24, ridge: float = 1.0, **kw):
        super().__init__(*args, **kw)
        self.span = int(span)
        self.ridge = float(ridge)

    def settings(self):
        s = super().settings()
        s.update(span=self.span, ridge=self.ridge)
        return s

    def history_buckets(self) -> int:
        # the AR window is the span buckets STRICTLY BEFORE the
        # predicted one (rowsBetween(-span, -1)) — one more than the
        # Donut-style inclusive window
        return self.span

    def fit(self, series_df: DataFrame):
        _, values = collect_series(series_df, self.ts_col, self.feature_col)
        w, mu, sd, sigma = _fit_arrays(values, self.span, self.ridge)
        self.state = {
            "weights": w.tolist(), "mean": mu, "std": sd, "sigma": sigma,
        }
        return self

    def transform(self, series_df: DataFrame):
        """Vectorized inference: per-row history window (ffilled) →
        dot with the literal weight vector — JVM column math, no
        Python in the scoring path."""
        self._require_trained()
        w = self.state["weights"]
        mu, sd = self.state["mean"], self.state["std"]
        sigma = self.state["sigma"]
        ffill = Window.orderBy(self.ts_col).rowsBetween(
            Window.unboundedPreceding, 0)
        hist = Window.orderBy(self.ts_col).rowsBetween(-self.span, -1)
        filled = F.last(F.col(self.feature_col), ignorenulls=True).over(ffill)
        df = series_df.withColumn("__win", F.collect_list(filled).over(hist))
        weights = F.array(*[F.lit(float(x)) for x in w[:-1]])
        dot = F.aggregate(
            F.zip_with(
                F.col("__win"), weights,
                lambda x, wi: (x - F.lit(mu)) / F.lit(sd) * wi,
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        pred = F.when(
            F.size("__win") == self.span,
            (dot + F.lit(float(w[-1]))) * F.lit(sd) + F.lit(mu),
        )
        return (
            df.withColumn("predicted", pred)
            .withColumn("lower", pred - F.lit(BAND_SIGMA * sigma))
            .withColumn("upper", pred + F.lit(BAND_SIGMA * sigma))
            .drop("__win")
        )

    def forecast(self, spark, from_ts: int, to_ts: int,
                 history: list[float] | None = None):
        """Sequential roll-forward from the last observed window.
        ``history``: the final ``span`` observed values (collect them
        from the tail of the series before calling)."""
        self._require_trained()
        if history is None or len(history) < self.span:
            raise errors.Invalid(
                f"forecast needs the last {self.span} observed values"
            )
        w = np.asarray(self.state["weights"])
        mu, sd = self.state["mean"], self.state["std"]
        sigma = self.state["sigma"]
        window = list(history[-self.span:])
        out = []
        ts = from_ts
        while ts < to_ts:
            nxt = _predict_window(np.array(window), w, mu, sd)
            out.append((ts, nxt, nxt - BAND_SIGMA * sigma,
                        nxt + BAND_SIGMA * sigma))
            window = window[1:] + [nxt]
            ts += self.bucket_interval
        return spark.createDataFrame(
            out, f"{self.ts_col} long, predicted double, "
            "lower double, upper double"
        )


    def impute(self, series_df: DataFrame) -> DataFrame:
        """Fill missing buckets with model predictions (the reference's
        MCMC-imputation role, donut.py:1267-1275, gap gate
        tests/test_donut.py:451-530): sequential left-to-right pass on
        the collected series — already-imputed values feed later
        windows.  Series length is bounded by range/interval."""
        self._require_trained()
        w = np.asarray(self.state["weights"])
        mu, sd = self.state["mean"], self.state["std"]
        rows = series_df.orderBy(self.ts_col).collect()
        values = [r[self.feature_col] for r in rows]
        filled, imputed_flags = [], []
        for i, v in enumerate(values):
            if v is not None and not (isinstance(v, float) and np.isnan(v)):
                filled.append(float(v))
                imputed_flags.append(False)
                continue
            if i >= self.span:
                pred = _predict_window(
                    np.array(filled[i - self.span:i]), w, mu, sd)
            else:
                pred = mu
            filled.append(pred)
            imputed_flags.append(True)
        spark = series_df.sparkSession
        return spark.createDataFrame(
            [(r[self.ts_col], filled[i], imputed_flags[i])
             for i, r in enumerate(rows)],
            f"{self.ts_col} long, {self.feature_col} double, imputed boolean",
        )


from loudml_spark.ml.models import MODEL_TYPES  # noqa: E402

MODEL_TYPES[WindowRegressionModel.TYPE] = WindowRegressionModel


def auto_span(
    series_df: DataFrame,
    candidates=(5, 10, 12, 20, 24, 50, 100),
    *,
    train_size: float = 0.67,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    ridge: float = 1.0,
) -> int:
    """Span hyper-search — the reference's ``span: "auto"`` (hyperopt
    TPE over span/latent/hidden, loudml/donut.py:813-855, gate: result
    lands in [10, 20] for daily-period test data,
    tests/test_donut.py:342-355).

    Deterministic grid: fit a quick ridge AR per candidate on the
    chronological train split, score validation MSE, smallest span
    wins ties.  The candidate fits are independent → trivially
    parallelizable; each is a closed-form solve on the collected
    aggregated series."""
    _, v = collect_series(series_df, ts_col, value_col)
    v = pd.Series(v).ffill().bfill().to_numpy(dtype=float)
    k = round(len(v) * train_size)
    results = []
    for span in sorted(candidates):
        if k <= span + 2 or len(v) - k <= span:
            continue
        w, mu, sd, _ = _fit_arrays(v[:k], span, ridge)
        X = np.lib.stride_tricks.sliding_window_view(
            v[k - span:-1], span)
        y = v[k:]
        xs = (X - mu) / sd
        # einsum not `@`: auto_span runs per-key in executors AND in
        # the oracle replay — a BLAS ulp flipping a near-tie would
        # pick different spans in the two processes
        pred = (np.einsum("ij,j->i", xs, w[:-1], optimize=False)
                + w[-1]) * sd + mu
        mse = float(np.mean((pred - y) ** 2))
        # AIC-style penalized score: larger windows must earn their
        # extra parameters, not just average more noise
        n_val = len(y)
        results.append((span, np.log(max(mse, 1e-300)) + 2.0 * span / n_val))
    if not results:
        raise errors.Invalid("series too short for any candidate span")
    results.sort(key=lambda r: (r[1], r[0]))
    return results[0][0]


def ar_predict_values(
    values: np.ndarray, w, mu: float, sd: float, span: int
) -> np.ndarray:
    """Pure-numpy mirror of :func:`predict_many`'s per-row scoring —
    forward-fill, assemble the ``span`` strictly-previous values
    (nulls before the first observation are absent, like
    ``collect_list``), dot with the weights.  Float op order matches
    the Spark path exactly, so an external oracle recomputing
    predictions from the same series reproduces them bit-for-bit
    (tests/test_regression.py pins the equivalence)."""
    wt = np.asarray(w, dtype=float)
    filled = pd.Series(values).ffill().to_numpy(dtype=float)
    out = np.full(len(filled), np.nan)
    for i in range(len(filled)):
        win = [x for x in filled[max(0, i - span):i] if not np.isnan(x)]
        if len(win) == len(wt) - 1:
            out[i] = _predict_window(win, wt, mu, sd)
    return out


def fit_many(
    series_df: DataFrame,
    key_cols: list[str],
    *,
    span: int = 24,
    ridge: float = 1.0,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """Train one AR model per key in parallel (applyInPandas): the
    fleet-training path.  Returns (keys..., weights array<double>,
    mean, std, sigma)."""
    schema = ", ".join(
        [f"{k} string" for k in key_cols]
        + ["weights array<double>", "mean double", "std double",
           "sigma double"]
    )

    def fn(keys, pdf):
        pdf = pdf.sort_values(ts_col)
        try:
            w, mu, sd, sigma = _fit_arrays(
                pdf[value_col].to_numpy(dtype=float), span, ridge
            )
        except errors.Invalid:
            return pd.DataFrame(
                columns=[*key_cols, "weights", "mean", "std", "sigma"]
            )
        return pd.DataFrame([{
            **{k: keys[i] for i, k in enumerate(key_cols)},
            "weights": w.tolist(), "mean": mu, "std": sd, "sigma": sigma,
        }])

    return series_df.groupBy(*key_cols).applyInPandas(fn, schema=schema)


def predict_many(
    series_df: DataFrame,
    models_df: DataFrame,
    key_cols: list[str],
    *,
    span: int = 24,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """Score every series against its own model: broadcast the (small)
    models frame, assemble per-row windows, dot-product via a
    vectorized UDF.  Output adds predicted/lower/upper."""
    ffill = Window.partitionBy(*key_cols).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0)
    hist = Window.partitionBy(*key_cols).orderBy(ts_col).rowsBetween(
        -span, -1)
    filled = F.last(F.col(value_col), ignorenulls=True).over(ffill)
    df = (
        series_df.withColumn("__win", F.collect_list(filled).over(hist))
        .join(F.broadcast(models_df), on=key_cols, how="inner")
    )

    def fn(win: pd.Series, weights: pd.Series, mean: pd.Series,
           std: pd.Series) -> pd.Series:
        out = np.full(len(win), np.nan)
        for i in range(len(win)):
            wv, wt = win.iloc[i], weights.iloc[i]
            if wv is not None and wt is not None and len(wv) == len(wt) - 1:
                out[i] = _predict_window(
                    wv, np.asarray(wt), mean.iloc[i], std.iloc[i])
        return pd.Series(out)

    pred_udf = F.pandas_udf(fn, "double")
    pred = pred_udf(F.col("__win"), F.col("weights"),
                    F.col("mean"), F.col("std"))
    return (
        df.withColumn("predicted", pred)
        .withColumn("lower", F.col("predicted")
                    - F.lit(BAND_SIGMA) * F.col("sigma"))
        .withColumn("upper", F.col("predicted")
                    + F.lit(BAND_SIGMA) * F.col("sigma"))
        .drop("__win", "weights")
    )
