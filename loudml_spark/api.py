"""User-facing API parity with the reference's REST surface.

Maps the reference endpoints (SURVEY §2.11) onto engine calls:

* ``POST /buckets/<n>/_read?from&to&bucket_interval&features=`` →
  :func:`read_bucket` — parses ``avg(m.field);count(g)`` expressions
  (loudml/misc.py:333-342) and returns the worker's response shape
  ``{timestamps: [...], observed: {feature: [...]}}``
  (loudml/worker.py:150-163).  Spark computes only the buckets that
  hold rows; the empty-bucket spine is laid on the driver, except for
  features that read the previous bucket, which keep the Spark spine
  join;
* ``POST /buckets/<n>/_write`` → :meth:`Engine.write`, which lets the
  writes to one bucket take turns (df.write batches — no 1000-point
  buffer, loudml/bucket.py:110-146);
* ``POST /buckets/<n>/_clear`` → Bucket.drop equivalents;
* ``POST /models/<n>/_eval`` → :meth:`Engine.eval_model`: Spark runs
  the one aggregation of the widened window (:func:`collect_buckets`);
  the driver predicts, scores and detects that bounded series in numpy
  and returns a local frame, so collecting the result starts no job
  and a write-back is one job;
* ``POST /models/<n>/_forecast`` → :meth:`Engine.forecast`: each
  model builds its future buckets on the driver as a local frame, so
  a forecast starts no Spark job;
* ``_eval`` / ``_forecast`` result shaping → :func:`format_series` /
  :func:`format_buckets` (loudml/donut.py:331-412) including the
  ``lower_<f>`` / ``upper_<f>`` / ``@<f>`` column names of the
  prediction write-back schema (loudml/bucket.py:232-253).

Jobs: the reference queues work in process pools with polled job
state (server.py:263-393).  Spark actions are already async-capable
(FAIR scheduler pools); a job registry here would wrap
``InheritableThread`` — deliberately out of engine scope.
"""

from __future__ import annotations

import math
import threading
from typing import Any, Mapping

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loudml_spark import errors
from loudml_spark.features import parse_features
from loudml_spark.functions.metrics import get_metric_spec
from loudml_spark.operators.bucketize import (
    BUCKET_COL,
    bucket_range,
    bucketize,
)


def read_bucket(
    df: DataFrame,
    from_date,
    to_date,
    bucket_interval,
    features,
    *,
    ts_col: str = "ts",
    ts_unit: str = "s",
    now: float | None = None,
    max_series: int | None = 2000,
) -> dict:
    """The `_read` endpoint: bucketized features over one source,
    reshaped to the reference's response format.

    The response has one entry per bucket of ``range(from_ts, to_ts,
    interval)``, the aligned cover of the request, as
    :func:`collect_buckets` fills it: one aggregation job, with the
    empty-bucket spine laid on the driver unless a feature reads its
    previous bucket.

    ``max_series`` is the reference's per-bucket
    ``max_series_per_request`` result guard (loudml/bucket.py:41-44,
    87-89, default 2000): a request whose date-histogram has more
    buckets than the cap raises ``errors.Invalid``.  The bucket count
    is arithmetic, so a refused request starts no Spark job.  ``None``
    disables the guard."""
    feats = parse_features(features)
    interval, raw_from, raw_to, from_ts, to_ts = bucket_range(
        from_date, to_date, bucket_interval, now=now)
    timestamps = list(range(from_ts, to_ts, interval))
    if max_series is not None:
        if max_series < 1:
            raise errors.Invalid("max_series_per_request must be >= 1")
        if len(timestamps) > max_series:
            raise errors.Invalid(
                f"result exceeds max_series_per_request ({max_series}); "
                "narrow the range or raise the bucket's limit")
    values, _ = collect_buckets(
        df, feats, raw_from, raw_to, interval, timestamps,
        ts_col=ts_col, ts_unit=ts_unit)
    return {"timestamps": timestamps,
            "observed": {name: [_nan_to_none(v) for v in col]
                         for name, col in values.items()}}


def collect_buckets(df: DataFrame, feats, raw_from, raw_to, interval: int,
                    timestamps, *, ts_col: str = "ts", ts_unit: str = "s"):
    """Run the one bucketize aggregation of ``feats`` over the raw
    range and lay its rows on ``timestamps`` (the aligned spine) on the
    driver.  Returns ``({feature name: [value per timestamp]},
    {feature name: StructField})``; each field has the type and
    nullability the feature has in ``bucketize``'s spine frame.

    When no feature reads its previous bucket, Spark runs the aggregate
    alone (``spine=False``: a scan stage and a result stage), and each
    bucket it lacks gets the fill ``bucketize`` would have given it:
    0.0 for count-family metrics, the constant ``default`` when one is
    set, None otherwise.  A feature with ``default: previous``,
    ``transform: diff`` or a ``post`` metric (derivative, integral)
    reads the previous bucket, so such a request keeps the Spark spine
    join.  Both paths give identical values."""
    # The driver-side spine saves the spine's broadcast and the
    # Range + TakeOrderedAndProject stage: 2 Spark jobs a read instead
    # of 4.  Measured alternatives (4-core VM, serve read shapes, one
    # session, each variant timed on its own distinct ranges): a spine
    # unioned into the aggregate took 0.51–0.57 s a read against
    # 0.49–0.52 s for the spine join, and a LocalRelation spine 0.77 s.
    # Do not time two variants over the SAME ranges: each new range
    # literal compiles a fresh whole-stage class, so the variant run
    # second reuses compiled, JIT-warm code and looks faster than it is
    # (0.27 against 0.46 s).
    spine = any(_reads_previous_bucket(f) for f in feats)
    out = bucketize(
        df, feats, raw_from, raw_to, interval,
        ts_col=ts_col, ts_unit=ts_unit, spine=spine,
    )
    by_ts = {r[BUCKET_COL]: r for r in out.collect()}
    values, fields = {}, {}
    for f in feats:
        missing = _empty_bucket_value(f)
        values[f.name] = [by_ts[t][f.name] if t in by_ts else missing
                          for t in timestamps]
        field = out.schema[f.name]
        fields[f.name] = T.StructField(
            f.name, field.dataType,
            field.nullable or (not spine and missing is None))
    return values, fields


def _reads_previous_bucket(feat) -> bool:
    return (feat.default == "previous" or feat.transform == "diff"
            or get_metric_spec(feat.metric).post is not None)


def _empty_bucket_value(feat):
    """What ``bucketize``'s fill gives a bucket without rows (unused
    for ``default: previous``, which keeps the Spark spine)."""
    if get_metric_spec(feat.metric).fill_zero:
        return 0.0
    if feat.default in (None, "previous"):
        return None
    return float(feat.default)


def _nan_to_none(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _scored_frame(spark: SparkSession, model, timestamps, observed,
                  field, from_ts: int, flag_abnormal: bool) -> DataFrame:
    """``model.predict`` → keep ``ts >= from_ts`` → ``detect_anomalies``
    on one series held on the driver, as a local frame with the same
    schema, column order and values.  ``observed`` holds the bucket
    values of the widened range (None for null), ``field`` their Spark
    type.  With ``flag_abnormal``, every NaN in a double column becomes
    null, as the Arrow round trip of ``applyInPandas`` makes it."""
    import pandas as pd

    from loudml_spark.ml.detect import _STATE_COLS, _sweep
    from loudml_spark.ml.models import local_frame
    from loudml_spark.ml.scoring import score_values

    ts = np.asarray(timestamps, dtype=np.int64)
    obs = np.ma.array([np.nan if v is None else float(v) for v in observed],
                      mask=[v is None for v in observed])
    predicted, lower, upper = model.predict_values(ts, obs)
    score = score_values(obs, predicted, lower, upper, model.anomaly_type)
    ob, pr = obs.filled(np.nan), predicted.filled(np.nan)
    mse = np.ma.array((ob - pr) ** 2, mask=np.ma.getmaskarray(obs)
                      | np.ma.getmaskarray(predicted))
    keep = ts >= from_ts
    band_nullable = model.band_nullable()
    fields = [
        T.StructField(model.ts_col, T.LongType(), False),
        T.StructField("observed", field.dataType, field.nullable),
        *(T.StructField(c, T.DoubleType(), band_nullable)
          for c in ("predicted", "lower", "upper")),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("mse", T.DoubleType(),
                      field.nullable or band_nullable),
    ]
    columns = [ts[keep], [v for v, k in zip(observed, keep) if k]] + [
        c[keep] for c in (predicted, lower, upper, score, mse)]
    if flag_abnormal:
        swept = _sweep(
            pd.DataFrame({"ts": ts[keep], "score": score[keep],
                          "observed": ob[keep], "predicted": pr[keep]}),
            "ts", "score", "observed", "predicted", model.min_threshold,
            model.max_threshold, model.grace_period)
        fields += [T.StructField(n, t, True) for n, t in _STATE_COLS]
        columns += [swept[n].tolist() for n, _ in _STATE_COLS]
        for i, f in enumerate(fields):
            if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
                columns[i], has_null = _nan_to_null(columns[i])
                if has_null and not f.nullable:
                    # a NaN band (a NaN in the training series) is null
                    # now; the Arrow round trip failed on it instead
                    fields[i] = T.StructField(f.name, f.dataType, True)
    return local_frame(spark, T.StructType(fields), columns)


def _nan_to_null(values):
    """(``values`` with every NaN made null, whether any is null)."""
    if isinstance(values, np.ma.MaskedArray):
        out = np.ma.masked_invalid(values.filled(np.nan))
        return out, bool(np.ma.getmaskarray(out).any())
    out = [None if v is None or v != v else v for v in values]
    return out, None in out


def prediction_frame(scored: DataFrame, feature: str,
                     model_name: str, *,
                     ts_col: str | None = None) -> DataFrame:
    """Write-back schema for a prediction result
    (loudml/donut.py:293-319, bucket.py:232-253): bucket left edge,
    predicted under the feature name, observed under ``@<feature>``,
    band as ``lower_/upper_<feature>``, score + is_anomaly tag.

    The time column is ``bucket_ts`` unless the scored frame was
    renamed to a model's ``ts_col`` (Engine.eval_model does) — detect
    rather than hardcode, or write-back crashes AFTER scoring."""
    ts_src = BUCKET_COL if BUCKET_COL in scored.columns else ts_col
    if ts_src is None or ts_src not in scored.columns:
        raise errors.Invalid(
            f"scored frame has no time column ({BUCKET_COL!r} or "
            f"{ts_col!r}); columns: {scored.columns}")
    cols = [
        F.col(ts_src).alias("timestamp"),
        F.col("predicted").alias(feature),
        F.col("lower").alias(f"lower_{feature}"),
        F.col("upper").alias(f"upper_{feature}"),
        F.col("observed").alias(f"@{feature}"),
        F.col("score"),
        F.lit(model_name).alias("model"),
    ]
    if "is_anomaly" in scored.columns:
        cols.append(F.col("is_anomaly"))
    return scored.select(*cols)


def format_series(rows, feature_names) -> dict:
    """Struct-of-arrays output (loudml/donut.py:331-369).

    Rows either carry per-feature columns (named after the features)
    or the single shared ``observed``/``predicted`` pair of a scored
    one-feature frame; in the shared-column shape more than one
    feature name would silently alias the same data — reject it."""
    if len(feature_names) > 1:
        raise errors.Invalid(
            "scored rows carry one observed/predicted column pair; "
            f"{len(feature_names)} feature names would silently alias "
            "the same data — format one feature per call")
    out = {
        "timestamps": [r["bucket_ts"] for r in rows],
        "observed": {},
        "predicted": {},
    }
    for f in feature_names:
        out["observed"][f] = [_nan_to_none(r["observed"]) for r in rows]
        out["predicted"][f] = [_nan_to_none(r["predicted"]) for r in rows]
    if rows and "lower" in rows[0].__fields__:
        for f in feature_names:
            out["predicted"][f"lower_{f}"] = [
                _nan_to_none(r["lower"]) for r in rows]
            out["predicted"][f"upper_{f}"] = [
                _nan_to_none(r["upper"]) for r in rows]
    return out


def format_buckets(rows, feature_names) -> list[dict]:
    """Array-of-structs output (loudml/donut.py:371-412)."""
    out = []
    for r in rows:
        entry = {
            "timestamp": r["bucket_ts"],
            "observed": {f: _nan_to_none(r["observed"])
                         for f in feature_names},
            "predicted": {f: _nan_to_none(r["predicted"])
                          for f in feature_names},
        }
        if "score" in r.__fields__:
            entry["stats"] = {
                "score": _nan_to_none(r["score"]),
                "anomaly": bool(r["is_anomaly"])
                if "is_anomaly" in r.__fields__ else False,
            }
        out.append(entry)
    return out


def parse_constraint(constraint: str) -> dict:
    """``feature:low:3.0`` → {feature, type, threshold}
    (loudml/misc.py:311-330 parity, including its error messages)."""
    from loudml_spark import errors

    try:
        feature, _type, threshold = constraint.split(":")
    except ValueError:
        raise errors.Invalid("invalid format for 'constraint' parameter")
    if _type not in ("low", "high"):
        raise errors.Invalid(
            "invalid threshold type for 'constraint' parameter")
    try:
        threshold = float(threshold)
    except ValueError:
        raise errors.Invalid("invalid threshold for 'constraint' parameter")
    return {"feature": feature, "type": _type, "threshold": threshold}


def test_constraint(
    forecast_df: DataFrame,
    feature: str,
    _type: str,
    threshold: float,
    *,
    ts_col: str = "bucket_ts",
) -> None:
    """Raise ForecastConstraintViolation at the first forecast bucket
    whose predicted value crosses the bound (worker.py:311-317 calls
    this on the model; the reference OSS never ships the body — these
    are the documented semantics: 'low' alerts when the forecast drops
    below the threshold, 'high' when it exceeds it)."""
    from loudml_spark import errors

    cond = (
        F.col("predicted") < F.lit(threshold)
        if _type == "low"
        else F.col("predicted") > F.lit(threshold)
    )
    row = (
        forecast_df.filter(cond)
        .orderBy(ts_col)
        .select(ts_col, "predicted")
        .first()
    )
    if row is not None:
        raise errors.ForecastConstraintViolation(
            feature, _type, threshold, row[ts_col], row["predicted"]
        )


def forecast_model(
    model,
    spark: SparkSession,
    from_date,
    to_date,
    *,
    percent_interval: float | None = None,
    percent_noise: float = 0.0,
    constraint: str | dict | None = None,
    history: list | None = None,
) -> DataFrame:
    """The `_forecast` endpoint: future buckets from a trained model.

    Every model builds its future buckets on the driver as a local
    frame: profile models look them up (``predict_values``),
    roll-forward estimators (Donut VAE, AR) iterate
    (loudml/donut.py:1333-1475) — the series length is bounded by
    horizon/interval, never data volume — so a forecast starts no
    Spark job.

    ``percent_interval`` controls the confidence band: models with
    native support (DonutModel) receive it directly; for fixed ±3σ
    models the band is rescaled by Φ⁻¹(1−(1−pi)/2)/3 — exactly the
    reference's norm().ppf scaling (donut.py:1418).  ``constraint``
    (``feature:low:3.0``) raises ForecastConstraintViolation at the
    first crossing bucket (server.py:1693-1696).
    """
    import inspect

    from loudml_spark import errors, timeutil
    from loudml_spark.ml.models import BAND_SIGMA
    from loudml_spark.ml.scoring import band_sigma_for

    from_ts, to_ts = timeutil.align_range(
        from_date, to_date, model.bucket_interval
    )
    params = inspect.signature(model.forecast).parameters
    kwargs = {}
    if "percent_interval" in params and percent_interval is not None:
        kwargs["percent_interval"] = percent_interval
    if "percent_noise" in params and percent_noise:
        kwargs["percent_noise"] = percent_noise
    if "history" in params and history is not None:
        kwargs["history"] = history
    out = model.forecast(spark, from_ts, to_ts, **kwargs)
    if percent_interval is not None and "percent_interval" not in kwargs:
        # model emitted a fixed ±BAND_SIGMA·σ band — rescale half-width
        scale = band_sigma_for(percent_interval) / BAND_SIGMA
        pred = F.col("predicted")
        out = out.withColumn(
            "lower", pred - (pred - F.col("lower")) * F.lit(scale)
        ).withColumn(
            "upper", pred + (F.col("upper") - pred) * F.lit(scale)
        )
    if constraint:
        c = (parse_constraint(constraint)
             if isinstance(constraint, str) else dict(constraint))
        if c["feature"] != model.feature_col:
            raise errors.Invalid(
                f"unknown constraint feature: {c['feature']!r} "
                f"(model feature is {model.feature_col!r})"
            )
        test_constraint(
            out, c["feature"], c["type"], c["threshold"],
            ts_col=model.ts_col,
        )
    return out


def fake_prediction_frame(spark: SparkSession, model,
                          now: float | None = None) -> DataFrame:
    """The hook-test endpoint's synthetic prediction
    (donut.py:1316-1331): three buckets ending now, the middle one
    maximally anomalous — enough to drive every hook path."""
    import sys
    import time as _time

    from loudml_spark.ml.models import local_frame

    now_ts = int(now if now is not None else _time.time())
    iv = model.bucket_interval
    return local_frame(
        spark,
        T.StructType([T.StructField(model.ts_col, T.LongType())] + [
            T.StructField(c, T.DoubleType())
            for c in ("observed", "predicted", "lower", "upper")]),
        [[now_ts - 2 * iv, now_ts - iv, now_ts],
         [0.0, sys.float_info.max, 0.0], [0.0] * 3, [-1.0] * 3, [1.0] * 3],
    )


class Engine:
    """The reference server's semantic surface as one façade — named
    buckets (config list), named models (filestorage), async jobs,
    scheduled jobs, hooks — minus HTTP framing (loudml_spark.server
    adds that).  Endpoint map in SURVEY §2.11; every method cites its
    route."""

    def __init__(self, spark: SparkSession, storage=None,
                 storage_path: str | None = None):
        from loudml_spark.jobs import JobRegistry
        from loudml_spark.ml.models import ModelStorage
        from loudml_spark.scheduler import ScheduledJobRegistry
        from loudml_spark.sources.base import BucketRegistry

        self.spark = spark
        self.buckets = BucketRegistry()
        if storage is None and storage_path is not None:
            storage = ModelStorage(storage_path)
        self.storage = storage
        self._models: dict[str, Any] = {}  # in-memory when no storage
        self.jobs = JobRegistry(spark)
        self.scheduled = ScheduledJobRegistry(self.jobs)
        self.hooks: dict[str, list] = {}  # model name → hooks
        self._write_locks: dict[str, threading.Lock] = {}

    @classmethod
    def from_config(cls, spark: SparkSession, path: str) -> "Engine":
        """Boot from a YAML config file — the reference's config.yml
        contract (loudml/config.py: ``buckets`` list, ``storage.path``,
        ``scheduled_jobs``; ``server.listen`` is read by serve_*).
        Scheduled-job specs with ``{{ model_name }}`` fan out across
        stored models exactly like server.py:1803-1818."""
        import yaml

        from loudml_spark import errors

        with open(path) as f:
            cfg = yaml.safe_load(f) or {}
        storage_path = (cfg.get("storage") or {}).get("path")
        eng = cls(spark, storage_path=storage_path)
        for settings in cfg.get("buckets") or []:
            eng.add_bucket(settings)
        eng.config = cfg
        for sj in (cfg.get("scheduled_jobs") or {}).values() \
                if isinstance(cfg.get("scheduled_jobs"), dict) \
                else (cfg.get("scheduled_jobs") or []):
            # validate the URL shape at BOOT, while the operator is
            # looking — not at first firing hours later on a job thread
            url = sj.get("relative_url", "")
            if not url.endswith("/_eval"):
                raise errors.Invalid(
                    f"unsupported scheduled-job url: {url!r} "
                    "(only /models/<name>/_eval specs are executable)")
            eng.scheduled.add_template(
                sj, eng.list_models(),
                fn=lambda desc: eng._run_scheduled(desc),
            )
        return eng

    def _run_scheduled(self, desc: dict):
        """Execute a config-file scheduled-job spec: the reference
        self-calls its own REST URL; here the URL maps back onto the
        engine action (only the _eval shape is meaningful without a
        live server)."""
        url = desc.get("relative_url", "")
        params = desc.get("params") or {}
        if url.endswith("/_eval"):
            model_name = url.split("/")[-2]
            horizon = 2 * self.get_model(model_name).bucket_interval
            import time as _time

            end = _time.time()
            kw = {}
            if "ts_col" in params:
                kw["ts_col"] = params["ts_col"]
            if "ts_unit" in params:
                kw["ts_unit"] = params["ts_unit"]
            return self.eval_model(
                model_name, params.get("bucket"), end - horizon, end,
                params.get("features", "avg(value)"), **kw)
        from loudml_spark import errors

        raise errors.Invalid(f"unsupported scheduled-job url: {url!r}")

    # ---- buckets (server.py:1038-1165) ---------------------------------
    def add_bucket(self, settings: Mapping[str, Any]):
        return self.buckets.add(dict(settings))

    def list_buckets(self) -> list[str]:
        return self.buckets.names()

    def delete_bucket(self, name: str) -> None:
        self.buckets.remove(name)

    def patch_bucket(self, name: str, data: Mapping[str, Any]):
        """PATCH /buckets/<n> (server.py:1105-1114): merge the partial
        settings into the stored ones and rebuild the bucket; an
        invalid patch leaves the bucket untouched."""
        return self.buckets.patch(name, dict(data))

    def clear_bucket(self, name: str) -> None:
        """POST /buckets/<n>/_clear (server.py:1144-1150)."""
        self.buckets.get(name).drop()

    def read(self, bucket_name: str, from_date, to_date, bucket_interval,
             features, **kw) -> dict:
        """POST /buckets/<n>/_read (server.py:1168-1217); the bucket's
        max_series_per_request caps the result unless the caller
        overrides it."""
        bucket = self.buckets.get(bucket_name)
        kw.setdefault("max_series", bucket.max_series_per_request)
        return read_bucket(
            bucket.read(self.spark), from_date, to_date, bucket_interval,
            features, **kw,
        )

    def write(self, bucket_name: str, df: DataFrame,
              mode: str = "append") -> None:
        """POST /buckets/<n>/_write (server.py:1153-1165).  Writes to
        one bucket take turns: two concurrent parquet appends to one
        path share Spark's ``_temporary`` commit dir, and one of them
        fails or loses rows."""
        lock = self._write_locks.setdefault(bucket_name, threading.Lock())
        with lock:
            self.buckets.get(bucket_name).write(df, mode=mode)

    # ---- models (server.py:686-936) ------------------------------------
    def create_model(self, settings: Mapping[str, Any]):
        from loudml_spark.ml.models import make_model

        model = make_model(dict(settings))
        self._models[model.name] = model
        if self.storage is not None:
            # settings-only save deferred until first train (no state)
            pass
        return model

    def get_model(self, name: str):
        from loudml_spark import errors

        model = self._models.get(name)
        if model is None and self.storage is not None:
            model = self.storage.load(name)
            self._models[name] = model
        if model is None:
            raise errors.ModelNotFound(name)
        return model

    def patch_model(self, name: str, data: Mapping[str, Any]):
        """PATCH /models/<n> (server.py:790-829): settings-only
        update — the trained state survives, mirroring the reference's
        ``save_model(model, save_state=False)``.  The patched model is
        validated by a full rebuild BEFORE it replaces the old one."""
        from loudml_spark.ml.models import make_model

        model = self.get_model(name)
        old_settings = model.settings()
        merged = {**old_settings, **dict(data), "name": name}
        new = make_model(merged)
        new.state = model.state
        self._models[name] = new
        if self.storage is not None:
            self.storage.save_settings(new)
        # reference changes-loop parity (server.py:808-826): if the
        # patch changed the model's eval cadence (`interval`) and a
        # periodic eval job is live, re-create it at the new cadence —
        # otherwise the running job keeps firing on the stale interval
        if merged.get("interval") != old_settings.get("interval") \
                and merged.get("interval") is not None:
            job_name = f"eval[{name}]"
            sj = self.scheduled.find(job_name)
            if sj is not None:
                from loudml_spark.timeutil import parse_timedelta

                seconds = parse_timedelta(merged["interval"])
                self.scheduled.remove(job_name)
                self.scheduled.add(
                    {"name": job_name,
                     "every": {"count": seconds, "unit": "seconds"}},
                    sj.fn)
        return new

    def list_models(self) -> list[str]:
        names = set(self._models)
        if self.storage is not None:
            names.update(self.storage.list_models())
        return sorted(names)

    def delete_model(self, name: str) -> None:
        from loudml_spark import errors

        self.get_model(name)
        self._models.pop(name, None)
        if self.storage is not None:
            try:
                self.storage.delete(name)
            except errors.ModelNotFound:
                pass  # created but never trained → nothing on disk
            # any other failure propagates: a delete that leaves the
            # model resurrectable from disk must not report success

    def model_versions(self, name: str) -> list[int]:
        """GET /models/<n>/versions (server.py:771-791): numbered
        training checkpoints in storage.  A model that exists but has
        never been trained/saved has no checkpoints → []."""
        import os
        import re

        self.get_model(name)  # raises ModelNotFound for unknown names
        if self.storage is None:
            return []
        d = self.storage._dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(m.group(1))
            for fn in os.listdir(d)
            if (m := re.fullmatch(r"state(\d+)\.json", fn))
        )

    def restore_model(self, name: str, version: int):
        """POST /models/<n>/_restore (server.py:793-820): load a
        specific checkpoint and make it current."""
        from loudml_spark import errors

        if self.storage is None:
            raise errors.Invalid("no storage configured")
        model = self.storage.load(name, version=version)
        self._models[name] = model
        return model

    # ---- lifecycle (server.py:907-936, 1583-1703) ----------------------
    def train(self, model_name: str, bucket_name: str, from_date, to_date,
              feature_expr: str, *, bg: bool = False,
              resume: bool = False, **kw):
        """POST /models/<n>/_train (server.py:907-936).  ``bg=True``
        returns a Job immediately (the reference's 202 + job id).
        ``resume=True`` warm-starts from the stored checkpoint when the
        model supports it and is already trained (the reference's
        continue-from-ckpt train path, donut.py:857-897) — each train
        still bumps the checkpoint version on save."""
        model = self.get_model(model_name)

        def run():
            series, _, _ = model.bucket_series(
                self.buckets.get(bucket_name).read(self.spark),
                from_date, to_date, feature_expr, **kw)
            import inspect

            supports_resume = "resume" in inspect.signature(
                model.fit).parameters
            if resume and model.is_trained() and supports_resume:
                model.fit(series, resume=True)
            else:
                # models without a warm-start path (gaussian, seasonal
                # profiles re-fit from scratch in one pass anyway)
                # silently retrain — resume is an optimization hint,
                # not a semantic change
                model.fit(series)
            if self.storage is not None:
                self.storage.save(model)
            return model

        if bg:
            return self.jobs.submit(f"train[{model_name}]", run)
        return run()

    def eval_model(self, model_name: str, bucket_name: str, from_date,
                   to_date, feature_expr: str, *, bg: bool = False,
                   output_bucket: str | None = None,
                   flag_abnormal: bool = False, ts_col: str = "ts",
                   ts_unit: str = "s", now: float | None = None):
        """POST /models/<n>/_eval (server.py:1583-1602): score a range
        with automatic history widening; ``flag_abnormal`` runs the
        hysteresis state machine (the endpoint's flag_abnormal_data
        arg) adding is_anomaly / episode columns; optionally save the
        prediction frame to an output bucket.

        The window is one bounded series, so Spark runs only its
        aggregation (:func:`collect_buckets`, over the range widened by
        ``history_buckets()``); prediction, scoring and detection run
        on the driver (:func:`_scored_frame`), and the result is a
        local frame: collecting it starts no job, and a write-back is
        one job.  The values equal the Spark composition
        ``bucket_series(widen=True)`` → ``predict`` → filter →
        ``detect_anomalies``, which ``_top`` and ``predict_range`` keep
        for keyed series."""
        model = self.get_model(model_name)

        def run():
            interval = model.bucket_interval
            lo, from_ts, to_ts = model.series_range(
                from_date, to_date, widen=True, now=now)
            feat = parse_features([feature_expr])[0]
            timestamps = list(range(lo, to_ts, interval))
            values, fields = collect_buckets(
                self.buckets.get(bucket_name).read(self.spark), [feat],
                lo, to_ts, interval, timestamps,
                ts_col=ts_col, ts_unit=ts_unit)
            scored = _scored_frame(
                self.spark, model, timestamps, values[feat.name],
                fields[feat.name], from_ts, flag_abnormal)
            hooks = self.hooks.get(model_name) if flag_abnormal else None
            if hooks:
                # fire on_anomaly_start/end per episode — the
                # reference's hook loop inside detect
                # (donut.py:1488-1568); an episode still open at the
                # series end keeps its end-hook unfired
                from loudml_spark.ml.detect import anomaly_windows
                from loudml_spark.ml.hooks import fire_hooks

                fire_hooks(
                    anomaly_windows(scored, ts_col=model.ts_col),
                    hooks, model=model_name,
                    series_end_ts=to_ts - interval,
                )
            if output_bucket is not None:
                self.write(output_bucket, prediction_frame(
                    scored, model.feature_col, model_name,
                    ts_col=model.ts_col))
            return scored

        if bg:
            return self.jobs.submit(f"eval[{model_name}]", run)
        return run()

    def forecast(self, model_name: str, from_date, to_date, *,
                 bg: bool = False, **kw):
        """POST /models/<n>/_forecast (server.py:1677-1703) —
        constraint=, percent_interval=, history= pass through."""
        model = self.get_model(model_name)
        if bg:
            return self.jobs.submit(
                f"forecast[{model_name}]",
                lambda: forecast_model(
                    model, self.spark, from_date, to_date, **kw),
            )
        return forecast_model(model, self.spark, from_date, to_date, **kw)

    def top(self, model_name: str, bucket_name: str, from_date, to_date,
            feature_expr: str, key_cols: list[str], *, size: int = 10,
            **kw) -> DataFrame:
        """GET /models/<n>/_top (server.py:1605-1626) — top abnormal
        keys.  NotImplementedError in the reference OSS
        (bucket.py:279-286); here: per-key max anomaly score over the
        range, descending, key ascending tie-break."""
        model = self.get_model(model_name)
        if key_cols and model.history_buckets() > 0:
            # windowed estimators (Donut, window regression) score ONE
            # series: their sliding windows and ts-joins have no key
            # partitioning, so a multi-key frame would interleave
            # keys' values into garbage scores with no error.  Keyed
            # scoring for these lives in the fleet API
            # (ml.donut_fleet.donut_fit_predict_many /
            # ml.regression.fit_many).
            raise errors.Invalid(
                f"model {model_name!r} is a windowed single-series "
                "estimator; per-key _top needs a profile model or the "
                "fleet API")
        series, _, _ = model.bucket_series(
            self.buckets.get(bucket_name).read(self.spark), from_date,
            to_date, feature_expr, group_by=key_cols, **kw)
        scored = model.predict(series)
        return (
            scored.groupBy(*key_cols)
            .agg(F.max("score").alias("max_score"),
                 F.count("*").alias("n_buckets"))
            .orderBy(F.col("max_score").desc(), *key_cols)
            .limit(size)
        )

    # ---- hooks (server.py:939-1028) ------------------------------------
    def add_hook(self, model_name: str, hook) -> None:
        self.hooks.setdefault(model_name, []).append(hook)

    def list_hooks(self, model_name: str) -> list[str]:
        return [h.name for h in self.hooks.get(model_name, [])]

    def delete_hook(self, model_name: str, hook_name: str) -> None:
        hs = self.hooks.get(model_name, [])
        self.hooks[model_name] = [h for h in hs if h.name != hook_name]

    def set_hook(self, model_name: str, desc: Mapping[str, Any]):
        """POST /models/<n>/hooks[/<h>] body ``{type, name, config}``
        (server.py:945-976, 988-1008): resolve the type from the hook
        registry, validate the config, create-or-replace by name."""
        from loudml_spark import errors
        from loudml_spark.ml.hooks import load_hook_type

        hook_type = desc.get("type")
        if hook_type is None:
            raise errors.Invalid("type is missing")
        hook_name = desc.get("name")
        if hook_name is None:
            raise errors.Invalid("name is missing")
        cls = load_hook_type(hook_type)
        if cls is None:
            raise errors.ModelNotFound(f"unknown hook type: {hook_type}")
        config = desc.get("config")
        cls.validate(config)
        self.get_model(model_name)  # 404 on unknown model
        hook = cls(hook_name, config)
        self.delete_hook(model_name, hook_name)
        self.add_hook(model_name, hook)
        return hook

    def get_hook(self, model_name: str, hook_name: str) -> dict:
        from loudml_spark import errors

        for h in self.hooks.get(model_name, []):
            if h.name == hook_name:
                return h.describe()
        raise errors.ModelNotFound(
            f"no hook {hook_name} on model {model_name}")

    def test_hook(self, model_name: str, hook_name: str | None = None,
                  now: float | None = None) -> int:
        """POST /models/<n>/hooks/<h>/_test: drive hooks with the fake
        prediction (donut.py:1316-1331) through the real detect path."""
        from loudml_spark.ml.detect import anomaly_windows, detect_anomalies
        from loudml_spark.ml.hooks import fire_hooks
        from loudml_spark.ml.scoring import with_scores

        model = self.get_model(model_name)
        hooks = [
            h for h in self.hooks.get(model_name, [])
            if hook_name is None or h.name == hook_name
        ]
        fake = with_scores(fake_prediction_frame(self.spark, model, now))
        detected = detect_anomalies(fake, ts_col=model.ts_col)
        ep = anomaly_windows(detected, ts_col=model.ts_col) \
            .drop("episode_id")
        return fire_hooks(ep, hooks, model=model_name)

    # ---- periodic eval (server.py:1629-1674) ---------------------------
    def start_periodic_eval(self, model_name: str, bucket_name: str,
                            feature_expr: str, every: dict,
                            now: float | None = None, **kw):
        """POST /models/<n>/_start: schedule recurring evals of the
        trailing window through the scheduler."""
        desc = {"name": f"eval[{model_name}]", "every": every}

        def fire(_desc):
            model = self.get_model(model_name)
            horizon = 2 * model.bucket_interval
            import time as _time

            end = _time.time()
            return self.eval_model(
                model_name, bucket_name, end - horizon, end,
                feature_expr, **kw)

        return self.scheduled.add(desc, fire, now=now)

    def stop_periodic_eval(self, model_name: str) -> None:
        """POST /models/<n>/_stop."""
        self.scheduled.remove(f"eval[{model_name}]")

    # ---- scheduled jobs over HTTP (server.py:1302-1402) -----------------
    def add_scheduled(self, desc: Mapping[str, Any]) -> list:
        """POST /scheduled_jobs (server.py:1340-1344): same URL
        validation and ``{{ model_name }}`` template fan-out as
        config-file boot.  Returns the created ScheduledJobs."""
        from loudml_spark import errors

        desc = dict(desc)
        url = desc.get("relative_url", "")
        if not url.endswith("/_eval"):
            raise errors.Invalid(
                f"unsupported scheduled-job url: {url!r} "
                "(only /models/<name>/_eval specs are executable)")
        return self.scheduled.add_template(
            desc, self.list_models(),
            fn=lambda d: self._run_scheduled(d))

    def delete_scheduled(self, names=None) -> None:
        """DELETE /scheduled_jobs[/<ids>] (server.py:1346-1351,
        1390-1397): no names → clear all; with names → remove each,
        unknown names ignored (the reference pops with a default)."""
        from loudml_spark import errors

        if names is None:
            self.scheduled.clear()
            return
        for n in names:
            try:
                self.scheduled.remove(n)
            except errors.LoudMLSparkError:
                pass
