"""Model layer: registry, persistence, baseline predictors.

The reference couples one model type (Donut VAE, TF/Keras) to the
engine; this layer keeps the *contract* — train on a bucketized
series, predict ``(bucket_ts, observed, predicted, lower, upper)``,
score + detect — while making the estimator pluggable
(loudml/model.py:445-468 entry-point registry → a plain dict here).

Each model predicts on two paths:

* ``transform`` (under ``predict``) — Spark columns (broadcast
  profile join, literal weights): the keyed, scalable path of
  ``_top`` and ``predict_range``;
* ``predict_values`` — numpy over one bounded series on the driver:
  ``Engine.eval_model`` collects the aggregated window and predicts,
  scores and detects it without another Spark job, and ``forecast``
  builds its future buckets the same way.  The two paths agree to
  rounding.  Frames built on the driver come from
  :func:`local_frame`.

Baselines (train = one aggregation job):

* ``GaussianModel`` — global μ/σ of the feature; band μ±3σ.
* ``SeasonalNaiveModel`` — μ/σ per seasonality slot (hour-of-day,
  optionally × ISO weekday), the reference's seasonality inputs
  (loudml/misc.py:201-212) turned into a predictor.

Both support ``forecast`` (predict future buckets from the profile
alone) — covering the reference's forecast API shape
(loudml/donut.py:1333-1475) with a deterministic estimator.

``DonutModel`` is the reference's VAE estimator on the pure-numpy
core in ml/donut_np.py (no TF/torch needed); the scoring/detection
pipeline downstream is estimator-agnostic.

State persists as JSON (settings + state + versioned checkpoints),
mirroring the reference's FileStorage layout
(loudml/filestorage.py:125-235).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loudml_spark import errors
from loudml_spark.ml.scoring import with_scores

BAND_SIGMA = 3.0  # prediction band = ±3σ (donut.py convention)


def _slot_cols(seasonality: dict, ts_col: str):
    """Seasonality slot keys from epoch-seconds bucket_ts (exact int
    math — bucket_ts is already a long)."""
    cols = []
    if seasonality.get("daytime", True):
        cols.append(
            F.expr(f"(`{ts_col}` div 3600L) % 24").cast("int").alias("__hod")
        )
    if seasonality.get("weekday", False):
        cols.append(
            F.expr(f"((`{ts_col}` div 86400L) + 3) % 7 + 1")
            .cast("int").alias("__wd")
        )
    return cols


def _slot_values(seasonality: dict, ts):
    """:func:`_slot_cols` on an epoch-seconds array.  Spark's ``div``
    and ``%`` truncate toward zero, so a bucket before 1970 gets a
    negative slot here too (and, matching no profile slot, the global
    fallback)."""
    import numpy as np

    ts = np.asarray(ts, dtype=np.int64)

    def div(a, b):
        return np.sign(a) * (np.abs(a) // b)

    slots = {}
    if seasonality.get("daytime", True):
        slots["__hod"] = np.fmod(div(ts, 3600), 24)
    if seasonality.get("weekday", False):
        slots["__wd"] = np.fmod(div(ts, 86400) + 3, 7) + 1
    return slots


def local_frame(spark: SparkSession, schema: T.StructType,
                columns) -> DataFrame:
    """A frame over columns held on the driver, one sequence per field
    of ``schema``.  A ``None`` entry or a masked ``numpy.ma`` entry is
    null; a NaN value stays NaN.  The frame is built from a
    ``pyarrow.Table``, so Spark plans it as a ``LocalRelation``:
    collecting it starts no job, where ``createDataFrame(list)`` runs
    an RDD job with a Python worker on every action."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema))


def collect_series(series_df: DataFrame, ts_col: str, value_col: str):
    """Collect an aggregated series in time order → (ts int64 array,
    values float array with NaN for missing)."""
    import numpy as np

    rows = series_df.orderBy(ts_col).select(ts_col, value_col).collect()
    ts = np.array([r[0] for r in rows], dtype=np.int64)
    vals = np.array([np.nan if r[1] is None else float(r[1]) for r in rows])
    return ts, vals


class BaseModel:
    """Contract: fit(series_df) → self; transform(series_df) → frame
    with predicted/lower/upper; predict_values(ts, vals) → the same
    three as numpy arrays; forecast(spark, from_ts, to_ts)."""

    TYPE = "base"

    def __init__(self, name: str, feature_col: str = "value",
                 ts_col: str = "bucket_ts", anomaly_type: str = "low_high",
                 min_threshold: float = 68.0, max_threshold: float = 99.7,
                 grace_period: float = 0.0, bucket_interval: int = 3600,
                 **extra):
        self.name = name
        self.feature_col = feature_col
        self.ts_col = ts_col
        self.anomaly_type = anomaly_type
        self.min_threshold = min_threshold
        self.max_threshold = max_threshold
        self.grace_period = grace_period
        self.bucket_interval = int(bucket_interval)
        self.extra = extra
        self.state: dict[str, Any] | None = None

    # -- persistence (FileStorage parity) --------------------------------
    def settings(self) -> dict:
        return {
            "name": self.name, "type": self.TYPE,
            "feature_col": self.feature_col, "ts_col": self.ts_col,
            "anomaly_type": self.anomaly_type,
            "min_threshold": self.min_threshold,
            "max_threshold": self.max_threshold,
            "grace_period": self.grace_period,
            "bucket_interval": self.bucket_interval,
            **self.extra,
        }

    def is_trained(self) -> bool:
        return self.state is not None

    def _require_trained(self):
        if not self.is_trained():
            raise errors.ModelNotTrained(self.name)

    # -- scoring pipeline (estimator-agnostic) ---------------------------
    def predict(self, series_df: DataFrame) -> DataFrame:
        """series_df: (ts_col, feature_col) bucketized series →
        (bucket_ts, observed, predicted, lower, upper, score, mse)."""
        pred = self.transform(series_df)
        return with_scores(
            pred.withColumnRenamed(self.feature_col, "observed"),
            anomaly_type=self.anomaly_type,
        )

    def history_buckets(self) -> int:
        """How many buckets BEFORE the requested range the estimator
        needs to predict the first bucket.  Donut-style windows include
        the current (masked) point → span−1; exclusive-window models
        override (WindowRegressionModel → span)."""
        span = getattr(self, "span", 1)
        if not isinstance(span, int):
            return 0  # span="auto" unresolved → predict will raise
        return max(0, span - 1)

    def series_range(self, from_date, to_date, *, widen: bool = False,
                     now: float | None = None):
        """``(scan_from, from_ts, to_ts)``: ``[from, to)`` aligned
        outward to the model's interval, and the scan start, widened by
        ``history_buckets()`` intervals when ``widen``."""
        from loudml_spark import timeutil

        interval = self.bucket_interval
        from_ts, to_ts = timeutil.align_range(
            timeutil.make_ts(from_date, now=now),
            timeutil.make_ts(to_date, now=now),
            interval,
        )
        lo = from_ts - (self.history_buckets() * interval if widen else 0)
        return lo, from_ts, to_ts

    def bucket_series(
        self,
        source_df: DataFrame,
        from_date,
        to_date,
        feature_expr: str,
        *,
        widen: bool = False,
        now: float | None = None,
        **bucketize_kw,
    ):
        """This model's input series from a raw source: bucketize
        ``feature_expr`` over ``[from, to)`` aligned outward to the
        model's interval, named ``(ts_col, feature_col)``.  ``widen``
        starts the scan ``history_buckets()`` intervals early, so a
        window model predicts the first requested bucket
        (donut.py:1210-1217 widens inside predict rather than trusting
        callers).  ``bucketize_kw`` passes through (ts_col, ts_unit,
        group_by).  Returns (series, from_ts, to_ts) — the aligned,
        unwidened range."""
        from loudml_spark.features import parse_features
        from loudml_spark.operators.bucketize import BUCKET_COL, bucketize

        lo, from_ts, to_ts = self.series_range(
            from_date, to_date, widen=widen, now=now)
        feat = parse_features([feature_expr])[0]
        series = bucketize(
            source_df, [feature_expr], lo, to_ts, self.bucket_interval,
            **bucketize_kw,
        ).withColumnRenamed(feat.name, self.feature_col)
        if BUCKET_COL != self.ts_col:
            series = series.withColumnRenamed(BUCKET_COL, self.ts_col)
        return series, from_ts, to_ts

    def predict_range(
        self,
        source_df: DataFrame,
        from_date,
        to_date,
        feature_expr: str,
        *,
        ts_col: str = "ts",
        ts_unit: str = "s",
        now: float | None = None,
    ) -> DataFrame:
        """Predict ``[from, to)`` straight from a raw source: the
        widened series (:meth:`bucket_series`), scored, then trimmed
        back to the requested range.  Window models therefore return
        a full prediction for the very first requested bucket."""
        series, from_ts, _ = self.bucket_series(
            source_df, from_date, to_date, feature_expr, widen=True,
            now=now, ts_col=ts_col, ts_unit=ts_unit,
        )
        return self.predict(series).filter(
            F.col(self.ts_col) >= F.lit(from_ts)
        )

    # -- estimator hooks --------------------------------------------------
    def fit(self, series_df: DataFrame) -> "BaseModel":
        raise NotImplementedError

    def transform(self, series_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def predict_values(self, ts, vals):
        """(predicted, lower, upper) as ``numpy.ma`` float arrays for
        one series in time order: ``ts`` the epoch-seconds bucket
        edges, ``vals`` the observed values as a ``numpy.ma`` float
        array, masked where null.  A masked output entry is a bucket
        without a prediction, null on the Spark path."""
        raise NotImplementedError

    def band_nullable(self) -> bool:
        """Whether some bucket can get no prediction (a window model's
        first buckets): the nullability :meth:`transform` gives the
        predicted/lower/upper columns."""
        return True

    def band_frame(self, spark: SparkSession, ts, predicted, lower,
                   upper) -> DataFrame:
        """``(ts_col, predicted, lower, upper)`` as a local frame."""
        schema = T.StructType(
            [T.StructField(self.ts_col, T.LongType(), False)]
            + [T.StructField(c, T.DoubleType(), self.band_nullable())
               for c in ("predicted", "lower", "upper")])
        return local_frame(spark, schema, [ts, predicted, lower, upper])

    def forecast(self, spark: SparkSession, from_ts: int, to_ts: int):
        """Future buckets ``range(from_ts, to_ts, interval)`` from the
        trained state alone (the profile models; roll-forward models
        override)."""
        import numpy as np

        self._require_trained()
        ts = np.arange(from_ts, to_ts, self.bucket_interval, dtype=np.int64)
        return self.band_frame(
            spark, ts, *self.predict_values(ts, np.ma.masked_all(len(ts))))


class GaussianModel(BaseModel):
    """Global-gaussian baseline: predicted = μ, band = μ ± 3σ."""

    TYPE = "gaussian"

    def fit(self, series_df):
        row = series_df.agg(
            F.avg(self.feature_col).alias("mean"),
            F.coalesce(F.stddev_pop(self.feature_col), F.lit(0.0))
            .alias("std"),
        ).collect()[0]
        std = row["std"] or 0.0
        self.state = {"mean": row["mean"], "std": std if std > 0 else 1.0}
        return self

    def band_nullable(self):
        return False

    def transform(self, series_df):
        self._require_trained()
        mu, sigma = self.state["mean"], self.state["std"]
        return (
            series_df.withColumn("predicted", F.lit(mu))
            .withColumn("lower", F.lit(mu - BAND_SIGMA * sigma))
            .withColumn("upper", F.lit(mu + BAND_SIGMA * sigma))
        )

    def predict_values(self, ts, vals):
        import numpy as np

        self._require_trained()
        mu, sigma = self.state["mean"], self.state["std"]
        # a NaN μ (NaN in the training series) stays NaN, as F.lit does
        return tuple(np.ma.array(np.full(len(ts), v, dtype=float))
                     for v in (mu, mu - BAND_SIGMA * sigma,
                               mu + BAND_SIGMA * sigma))


class SeasonalNaiveModel(BaseModel):
    """Per-slot gaussian profile (hour-of-day × optional weekday).

    Train: one groupBy over the training series.  ``transform``
    broadcast-joins the (≤168-row) profile onto the target spine —
    no shuffle of the big side at any scale; ``predict_values`` (eval
    and forecast) looks each bucket's slot up on the driver.
    """

    TYPE = "seasonal_naive"

    def __init__(self, *args, seasonality: dict | None = None, **kw):
        super().__init__(*args, **kw)
        self.seasonality = seasonality or {"daytime": True, "weekday": False}

    def settings(self):
        s = super().settings()
        s["seasonality"] = self.seasonality
        return s

    def band_nullable(self):
        # coalesce(slot mean, global mean) is null only without a
        # global mean (a model trained on a dataless range)
        return self.state["global_mean"] is None

    def _with_slots(self, df):
        out = df
        for c in _slot_cols(self.seasonality, self.ts_col):
            out = out.select("*", c)
        return out

    def fit(self, series_df):
        slotted = self._with_slots(series_df)
        keys = [c for c in slotted.columns if c.startswith("__")]
        prof = slotted.groupBy(*keys).agg(
            F.avg(self.feature_col).alias("mean"),
            F.coalesce(F.stddev_pop(self.feature_col), F.lit(0.0))
            .alias("std"),
        ).collect()
        fallback = series_df.agg(
            F.avg(self.feature_col).alias("m"),
            F.coalesce(F.stddev_pop(self.feature_col), F.lit(0.0)).alias("s"),
        ).collect()[0]
        self.state = {
            "profile": [
                {**{k: r[k] for k in keys},
                 "mean": r["mean"],
                 "std": (r["std"] if r["std"] and r["std"] > 0 else 1.0)}
                for r in prof
            ],
            "slot_keys": keys,
            "global_mean": fallback["m"],
            "global_std": fallback["s"] if fallback["s"] > 0 else 1.0,
        }
        return self

    def transform(self, series_df):
        self._require_trained()
        spark = series_df.sparkSession
        keys = self.state["slot_keys"]
        if not keys:
            # seasonality fully disabled → the profile is one global
            # row; attach it as literals (a keyless join would build
            # an invalid ', __mean double' DDL schema and crash at
            # predict time, far from the misconfiguration)
            p = self.state["profile"][0]
            joined = series_df.withColumn(
                "__mean", F.lit(p["mean"])
            ).withColumn("__std", F.lit(p["std"]))
        else:
            profile = self.state["profile"]
            prof = local_frame(
                spark,
                T.StructType(
                    [T.StructField(k, T.IntegerType()) for k in keys]
                    + [T.StructField(c, T.DoubleType())
                       for c in ("__mean", "__std")]),
                [[p[k] for p in profile] for k in keys]
                + [[p[c] for p in profile] for c in ("mean", "std")],
            )
            slotted = self._with_slots(series_df)
            joined = slotted.join(F.broadcast(prof), on=keys, how="left")
        mu = F.coalesce(F.col("__mean"), F.lit(self.state["global_mean"]))
        sigma = F.coalesce(F.col("__std"), F.lit(self.state["global_std"]))
        return (
            joined.withColumn("predicted", mu)
            .withColumn("lower", mu - F.lit(BAND_SIGMA) * sigma)
            .withColumn("upper", mu + F.lit(BAND_SIGMA) * sigma)
            .drop("__mean", "__std", *keys)
        )

    def predict_values(self, ts, vals):
        """The profile lookup of :meth:`transform`: the bucket's slot
        mean and std, each falling back to the global one when the
        slot has none."""
        import numpy as np

        self._require_trained()
        st = self.state
        keys = st["slot_keys"]
        profile = {tuple(p[k] for k in keys): p for p in st["profile"]}
        slots = _slot_values(self.seasonality, ts)
        found = [profile.get(tuple(int(slots[k][i]) for k in keys), {})
                 for i in range(len(ts))]

        def coalesce(name, fallback):
            # null only where slot and fallback are both None; a NaN
            # mean stays NaN, as Spark's coalesce keeps it
            vals = [fallback if p.get(name) is None else p[name]
                    for p in found]
            return np.ma.array([np.nan if v is None else v for v in vals],
                               mask=[v is None for v in vals], dtype=float)

        mu = coalesce("mean", st["global_mean"])
        sigma = coalesce("std", st["global_std"])
        return mu, mu - BAND_SIGMA * sigma, mu + BAND_SIGMA * sigma


class DonutModel(BaseModel):
    """Donut VAE (arXiv 1802.03903) on the pure-numpy estimator
    (ml/donut_np.py) — same train/predict contract as the reference's
    TF model (loudml/donut.py:999-1122, :1187-1314): z-score the
    aggregated series, train on sliding windows with M-ELBO + missing
    injection, predict each bucket from its span-window with the last
    point masked, via MCMC imputation + MC integration → μ ± 3σ band.

    Fit runs on the driver over the *collected aggregated* series —
    the reference's own sizing (≤ tens of thousands of floats).
    Inference is batched numpy over all windows at once; for fleets
    (one VAE per key inside executors) use ml/donut_fleet.py."""

    TYPE = "donut"

    def __init__(self, *args, span=24, latent_dim: int = 5,
                 intermediate_dim: int = 55, epochs: int = 60,
                 batch_size: int = 64, seed: int = 42,
                 max_evals: int = 10, **kw):
        super().__init__(*args, **kw)
        # span="auto" resolves at fit time via the max_evals-budgeted
        # joint hyper-search (the reference's settings contract:
        # get_hp_span('span') + max_evals, donut.py:813-855)
        self.span = span if span == "auto" else int(span)
        self.latent_dim = int(latent_dim)
        self.intermediate_dim = int(intermediate_dim)
        self.epochs = int(epochs)
        self.batch_size = int(batch_size)
        self.seed = int(seed)
        self.max_evals = int(max_evals)

    def settings(self):
        s = super().settings()
        s.update(span=self.span, latent_dim=self.latent_dim,
                 intermediate_dim=self.intermediate_dim,
                 epochs=self.epochs, batch_size=self.batch_size,
                 seed=self.seed, max_evals=self.max_evals)
        return s

    def fit(self, series_df, *, resume: bool = False):
        """Train (or, with ``resume=True`` and an existing checkpoint,
        CONTINUE training) the VAE: ``donut_fit_values`` warm-starts
        from ``state["vae"]`` (see its ``init``), and the checkpoint
        pins span/latent/hidden, so ``span="auto"`` is not searched
        again."""
        from loudml_spark.ml.donut_np import donut_fit_values

        init = self.state["vae"] if resume and isinstance(
            self.state, dict) and "vae" in self.state else None
        if self.span == "auto":
            if init is not None:
                self.span = int(init["span"])
                self.latent_dim = int(init["latent"])
                self.intermediate_dim = int(init["hidden"])
            else:
                best = auto_hyperparams(
                    series_df, max_evals=self.max_evals, seed=self.seed,
                    ts_col=self.ts_col, value_col=self.feature_col,
                )
                self.span = best["span"]
                self.latent_dim = best["latent_dim"]
                self.intermediate_dim = best["intermediate_dim"]

        _, vals = collect_series(series_df, self.ts_col, self.feature_col)
        self.state = donut_fit_values(
            vals, span=self.span, latent_dim=self.latent_dim,
            intermediate_dim=self.intermediate_dim, epochs=self.epochs,
            batch_size=self.batch_size, seed=self.seed, init=init,
        )
        return self

    def predict_values(self, ts, vals):
        """Each bucket from its span-window, the bucket itself masked;
        the first ``span − 1`` buckets have no full window and no
        prediction."""
        import numpy as np

        from loudml_spark.ml.donut_np import donut_predict_values

        self._require_trained()
        # a NaN value counts as missing, as on the Spark path
        pred, sig = donut_predict_values(
            self.state, np.ma.filled(vals, np.nan).astype(float),
            span=self.span, seed=self.seed)
        mask = np.arange(len(vals)) < len(vals) - len(pred)
        return tuple(
            np.ma.array(np.concatenate([np.full(mask.sum(), np.nan), a]),
                        mask=mask)
            for a in (pred, pred - BAND_SIGMA * sig, pred + BAND_SIGMA * sig))

    def transform(self, series_df):
        """``series_df`` plus ``predicted``/``lower``/``upper``, null
        for the first ``span − 1`` buckets.  The output is built from
        the rows already collected for the model input, every column
        kept, instead of joining the predictions back onto the lazy
        ``series_df``, which would scan the source a second time."""
        import numpy as np

        self._require_trained()
        rows = series_df.orderBy(self.ts_col).collect()
        vals = np.ma.masked_invalid([np.nan if r[self.feature_col] is None
                                     else float(r[self.feature_col])
                                     for r in rows])
        band = self.predict_values(None, vals)
        fields = [series_df.schema[self.ts_col]] + [
            f for f in series_df.schema.fields if f.name != self.ts_col]
        schema = T.StructType(fields + [
            T.StructField(c, T.DoubleType())
            for c in ("predicted", "lower", "upper")])
        return local_frame(
            series_df.sparkSession, schema,
            [[r[f.name] for r in rows] for f in fields] + list(band))

    def forecast(self, spark, from_ts: int, to_ts: int, *,
                 percent_interval: float = 0.68,
                 percent_noise: float = 0.0,
                 history: list[float] | None = None):
        """Iterative roll-forward forecast (donut.py:1333-1475).

        The first window is the last ``span-1`` observed values (from
        ``history`` if given, else the stored training tail) plus the
        first forecast slot masked missing.  Each step MCMC-imputes
        that slot, measures the MC spread, rolls forward.  Band half-
        width = Φ⁻¹(1−(1−percent_interval)/2)·σ_j — wider interval ⇒
        wider band, and σ_j grows as forecast values feed later
        windows.  ``percent_noise`` adds the reference's linearly-
        growing uniform noise (noise = pct·interval/86400 per step).

        Driver loop bounded by horizon/interval, never data volume.
        Returns (bucket_ts, predicted, lower, upper).
        """
        import numpy as np

        from loudml_spark.ml.donut_np import donut_forecast_values

        self._require_trained()
        steps = int((to_ts - from_ts) // self.bucket_interval)
        if steps <= 0:
            raise errors.Invalid(
                f"empty forecast range: [{from_ts}, {to_ts})")
        pred, half = donut_forecast_values(
            self.state, steps, span=self.span, seed=self.seed,
            percent_interval=percent_interval,
            percent_noise=percent_noise,
            bucket_interval=self.bucket_interval, history=history,
        )
        ts = from_ts + np.arange(steps, dtype=np.int64) * self.bucket_interval
        return self.band_frame(spark, ts, pred, pred - half, pred + half)


def auto_hyperparams(
    series_df: DataFrame,
    *,
    max_evals: int = 10,
    spans=(10, 20, 24, 50),
    latent_dims=(3, 5, 8),
    intermediate_dims=(21, 34, 55, 89, 144, 233),
    train_size: float = 0.67,
    epochs: int = 15,
    seed: int = 42,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    strategy: str = "sha",
) -> dict:
    """Joint (span, latent_dim, intermediate_dim) hyper-search under a
    ``max_evals`` budget — the reference's hyperopt TPE space
    (donut.py:813-855: latent ∈ {3,5,8}, neurons ∈ the Fibonacci run
    {21..233}, span from the model spec) made deterministic and
    ADAPTIVE: the default ``"sha"`` strategy runs successive halving
    (2× the candidates of a flat sample start at a quarter of the
    epochs; the top half by validation loss survives each rung and
    trains on) under the same total-epoch budget as ``max_evals``
    full trainings; ``"grid"`` is the budget-equal seeded uniform
    sample it is gated to beat-or-tie.  Candidates score on
    chronological-validation masked-last-point reconstruction MSE —
    the same quantity ``predict`` minimizes.  Ties break toward the
    smaller model.  Deterministic across runs and hosts.

    Each eval trains on the collected *aggregated* series (the
    reference's own sizing) — driver-side by design; for per-key
    fleets run the same search inside ``applyInPandas`` (the
    ml/donut_fleet.py pattern).

    Returns {"span", "latent_dim", "intermediate_dim", "loss",
    "n_evals"}.
    """
    from loudml_spark.ml.donut_np import search_hyperparams_np

    _, vals = collect_series(series_df, ts_col, value_col)
    try:
        return search_hyperparams_np(
            vals, max_evals=max_evals, spans=spans,
            latent_dims=latent_dims, intermediate_dims=intermediate_dims,
            train_size=train_size, epochs=epochs, seed=seed,
            strategy=strategy,
        )
    except ValueError as e:
        raise errors.Invalid(str(e))


MODEL_TYPES = {
    cls.TYPE: cls
    for cls in (GaussianModel, SeasonalNaiveModel, DonutModel)
}


def make_model(settings: dict) -> BaseModel:
    import loudml_spark.ml.regression  # noqa: F401  (registers its type)

    settings = dict(settings)
    mtype = settings.pop("type")
    name = settings.pop("name")
    cls = MODEL_TYPES.get(mtype)
    if cls is None:
        raise errors.Invalid(f"unknown model type: {mtype}")
    return cls(name, **settings)


class ModelStorage:
    """Versioned JSON persistence (loudml/filestorage.py layout:
    settings.json + numbered checkpoints + latest pointer)."""

    def __init__(self, root: str):
        self.root = root

    def _dir(self, name):
        return os.path.join(self.root, name)

    def save_settings(self, model: BaseModel) -> None:
        """Settings-only write (no new state checkpoint) — the
        reference's ``save_model(save_state=False)`` used by PATCH
        /models/<n> (server.py:790-829)."""
        d = self._dir(model.name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "settings.json"), "w") as f:
            json.dump(model.settings(), f, indent=2)

    def save(self, model: BaseModel) -> int:
        d = self._dir(model.name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "settings.json"), "w") as f:
            json.dump(model.settings(), f, indent=2)
        existing = [
            int(fn.split(".")[0][5:]) for fn in os.listdir(d)
            if fn.startswith("state") and fn.endswith(".json")
            and fn != "state.json"
        ]
        version = max(existing, default=0) + 1
        with open(os.path.join(d, f"state{version}.json"), "w") as f:
            json.dump(model.state, f)
        with open(os.path.join(d, "latest"), "w") as f:
            f.write(str(version))
        return version

    def load(self, name: str, version: int | None = None) -> BaseModel:
        d = self._dir(name)
        if not os.path.isdir(d):
            raise errors.ModelNotFound(name)
        with open(os.path.join(d, "settings.json")) as f:
            model = make_model(json.load(f))
        if version is None:
            latest = os.path.join(d, "latest")
            if os.path.exists(latest):
                version = int(open(latest).read().strip())
        if version:
            with open(os.path.join(d, f"state{version}.json")) as f:
                model.state = json.load(f)
        return model

    def list_models(self):
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n for n in os.listdir(self.root)
            if os.path.isdir(self._dir(n))
        )

    def delete(self, name: str):
        import shutil

        d = self._dir(name)
        if not os.path.isdir(d):
            raise errors.ModelNotFound(name)
        shutil.rmtree(d)
