"""Per-key VAE fleet via applyInPandas."""

import math

import numpy as np
from pyspark.sql import functions as F

from loudml_spark.ml.donut_fleet import donut_fit_predict_many
from loudml_spark.ml.scoring import score_col

BASE = 1704067200


def _series(spark):
    rng = np.random.default_rng(3)
    rows = []
    for key, (amp, period) in {"a": (5.0, 24), "b": (2.0, 12)}.items():
        for i in range(420):
            v = 10.0 + amp * math.sin(2 * math.pi * i / period) \
                + float(rng.normal(0, 0.05))
            rows.append((key, BASE + i * 3600, v))
    return spark.createDataFrame(rows, "series string, bucket_ts long, value double")


def test_fleet_trains_per_key_and_tracks(spark):
    df = _series(spark)
    out = donut_fit_predict_many(
        df, ["series"], span=24, epochs=40,
        train_before=BASE + 300 * 3600,
    )
    scored = out.withColumn(
        "score",
        score_col(F.col("observed"), F.col("predicted"),
                  F.col("lower"), F.col("upper")),
    )
    rows = scored.collect()
    keys = {r["series"] for r in rows}
    assert keys == {"a", "b"}
    # every scored bucket is in the test range with full coverage
    per_key = {k: sorted(r["bucket_ts"] for r in rows if r["series"] == k)
               for k in keys}
    for k in keys:
        assert len(per_key[k]) == 120
        assert per_key[k][0] == BASE + 300 * 3600
    # each key's model tracks its own series shape
    errs = {}
    for k in keys:
        e = [abs(r["predicted"] - r["observed"])
             for r in rows if r["series"] == k]
        errs[k] = float(np.mean(e))
        assert errs[k] < 1.0, (k, errs[k])
    # clean data: almost nothing crosses the 3-sigma score
    n_anom = sum(1 for r in rows if r["score"] >= 99.7)
    assert n_anom <= 5


def test_fleet_is_deterministic(spark):
    df = _series(spark)
    kw = dict(span=24, epochs=10, train_before=BASE + 300 * 3600)
    a = donut_fit_predict_many(df, ["series"], **kw) \
        .orderBy("series", "bucket_ts").collect()
    b = donut_fit_predict_many(df.repartition(7), ["series"], **kw) \
        .orderBy("series", "bucket_ts").collect()
    assert a == b  # stable across input partitionings


def test_fleet_forecast_tracks_per_key_shape(spark):
    from loudml_spark.ml.donut_fleet import donut_forecast_many

    df = _series(spark)
    out = donut_forecast_many(
        df, ["series"], horizon=48, span=24, epochs=40,
        percent_interval=0.95,
    ).orderBy("series", "bucket_ts").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["series"], []).append(r)
    assert set(by_key) == {"a", "b"}
    for key, (amp, period) in {"a": (5.0, 24), "b": (2.0, 12)}.items():
        rows = by_key[key]
        assert len(rows) == 48
        # forecast starts right after the last observed bucket
        assert rows[0]["bucket_ts"] == BASE + 420 * 3600
        # tracks each key's own seasonal shape (±1.5, reference gate)
        errs = [
            abs(r["predicted"]
                - (10.0 + amp * math.sin(2 * math.pi * ((420 + j) % period)
                                         / period)))
            for j, r in enumerate(rows)
        ]
        assert float(np.mean(errs)) < 1.5, (key, np.mean(errs))
        assert all(r["lower"] < r["predicted"] < r["upper"] for r in rows)


def test_fleet_forecast_deterministic(spark):
    from loudml_spark.ml.donut_fleet import donut_forecast_many

    df = _series(spark)
    kw = dict(horizon=12, span=24, epochs=10)
    a = donut_forecast_many(df, ["series"], **kw) \
        .orderBy("series", "bucket_ts").collect()
    b = donut_forecast_many(df.repartition(5), ["series"], **kw) \
        .orderBy("series", "bucket_ts").collect()
    assert a == b


def test_fleet_span_auto_per_key(spark):
    # each key runs its own executor-side hyper-search; scoring still
    # tracks each series and is deterministic across partitionings
    df = _series(spark)
    kw = dict(span="auto", max_evals=3, search_epochs=6, epochs=20,
              train_before=BASE + 300 * 3600)
    a = donut_fit_predict_many(df, ["series"], **kw) \
        .orderBy("series", "bucket_ts").collect()
    assert {r["series"] for r in a} == {"a", "b"}
    errs = [abs(r["predicted"] - r["observed"]) for r in a]
    assert float(np.mean(errs)) < 1.5
    b = donut_fit_predict_many(df.repartition(6), ["series"], **kw) \
        .orderBy("series", "bucket_ts").collect()
    assert a == b


def test_fleet_handles_series_ending_before_cut(spark):
    # a key whose series ends at/before train_before must yield zero
    # rows, not a sliding_window_view crash inside the executor
    rows = [("short", BASE + i * 3600, 5.0) for i in range(100)] + \
        [("full", BASE + i * 3600, 5.0 + (i % 5)) for i in range(420)]
    df = spark.createDataFrame(
        rows, "series string, bucket_ts long, value double")
    out = donut_fit_predict_many(
        df, ["series"], span=24, epochs=5,
        train_before=BASE + 300 * 3600,
    ).collect()
    assert {r["series"] for r in out} == {"full"}


def test_fleet_forecast_span_auto(spark):
    from loudml_spark.ml.donut_fleet import donut_forecast_many

    df = _series(spark)
    out = donut_forecast_many(
        df, ["series"], horizon=6, span="auto", max_evals=3,
        search_epochs=5, epochs=10,
    ).orderBy("series", "bucket_ts").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["series"], []).append(r)
    assert set(by_key) == {"a", "b"}
    assert all(len(v) == 6 for v in by_key.values())


def test_fleet_forecast_constraint_flags_per_key(spark):
    # constraint is data, not an exception, on the fleet path: one bad
    # key must not kill the thousand good ones (VERDICT r2 #6).  Key
    # "a" swings 5..15 so a low:7 constraint breaches; key "b" stays
    # within 8..12 so it must not.
    import pytest as _pytest

    from loudml_spark import errors
    from loudml_spark.ml.donut_fleet import donut_forecast_many

    df = _series(spark)
    out = donut_forecast_many(
        df, ["series"], horizon=48, span=24, epochs=40,
        constraint="value:low:7.0",
    ).orderBy("series", "bucket_ts").collect()
    assert "constraint_breach" in out[0].__fields__
    by_key = {}
    for r in out:
        by_key.setdefault(r["series"], []).append(r)
    a_breach = [r for r in by_key["a"] if r["constraint_breach"]]
    assert len(a_breach) == 1  # first violating bucket only
    first_low = next(r for r in by_key["a"] if r["predicted"] < 7.0)
    assert a_breach[0]["bucket_ts"] == first_low["bucket_ts"]
    assert not any(r["constraint_breach"] for r in by_key["b"])

    # no constraint -> schema unchanged
    plain = donut_forecast_many(
        df, ["series"], horizon=4, span=24, epochs=5)
    assert "constraint_breach" not in plain.columns

    # unknown feature fails fast on the driver
    with _pytest.raises(errors.Invalid):
        donut_forecast_many(df, ["series"], horizon=4,
                            constraint="other:low:1.0")


# -- the fleet and DonutModel share one numpy core ---------------------

def _gapped_pdf(n=120, seed=11, all_missing_before=None):
    import pandas as pd

    rng = np.random.default_rng(seed)
    ts = BASE + 3600 * np.arange(n)
    v = 10 + 3 * np.sin(2 * np.pi * np.arange(n) / 24) \
        + rng.normal(0, 0.2, n)
    v[rng.random(n) < 0.1] = np.nan
    if all_missing_before is not None:
        v[:all_missing_before] = np.nan
    return pd.DataFrame({"bucket_ts": ts, "value": v})


def _frame(spark, pdf):
    return spark.createDataFrame(
        [(int(t), None if np.isnan(v) else float(v))
         for t, v in zip(pdf["bucket_ts"], pdf["value"])],
        "bucket_ts long, value double")


def _keyed_model(keys, **kw):
    from loudml_spark.ml.donut_fleet import _key_seed
    from loudml_spark.ml.models import DonutModel

    return DonutModel("k", span=12, latent_dim=3, intermediate_dim=34,
                      epochs=5, seed=_key_seed(keys, 42), **kw)


def _fleet_vs_model_predictions(spark, pdf, cut):
    from loudml_spark.ml.donut_fleet import donut_fit_predict_group

    keys = ("k1",)
    ts = pdf["bucket_ts"].to_numpy()
    fleet = donut_fit_predict_group(
        keys, pdf, key_cols=["k"], span=12, epochs=5,
        train_before=int(ts[cut]))
    model = _keyed_model(keys)
    df = _frame(spark, pdf)
    model.fit(df.filter(F.col("bucket_ts") < int(ts[cut])))
    # the scored slice carries span-1 buckets of history, as the fleet's
    scored = model.transform(
        df.filter(F.col("bucket_ts") >= int(ts[cut - 11])))
    got = sorted(
        (r["bucket_ts"], r["predicted"], r["lower"], r["upper"])
        for r in scored.collect() if r["bucket_ts"] >= ts[cut])
    want = [(int(r.bucket_ts), r.predicted, r.lower, r.upper)
            for r in fleet.itertuples(index=False)]
    return model, got, want


def test_fleet_group_equals_donut_model_bit_for_bit(spark):
    _, got, want = _fleet_vs_model_predictions(spark, _gapped_pdf(), 80)
    assert len(want) == 40
    assert got == want  # exact float equality, not approx


def test_fleet_forecast_group_equals_donut_model_forecast(spark):
    from loudml_spark.ml.donut_fleet import donut_forecast_group

    keys = ("k1",)
    pdf = _gapped_pdf()
    fleet = donut_forecast_group(
        keys, pdf, key_cols=["k"], horizon=6, span=12, epochs=5,
        percent_interval=0.9, percent_noise=0.5, bucket_interval=3600)
    model = _keyed_model(keys, bucket_interval=3600)
    model.fit(_frame(spark, pdf))
    start = int(pdf["bucket_ts"].iloc[-1]) + 3600
    got = sorted(tuple(r) for r in model.forecast(
        spark, start, start + 6 * 3600, percent_interval=0.9,
        percent_noise=0.5).collect())
    want = [(int(r.bucket_ts), r.predicted, r.lower, r.upper)
            for r in fleet.itertuples(index=False)]
    assert got == want


def test_all_missing_training_slice_same_finite_state(spark):
    import json

    model, got, want = _fleet_vs_model_predictions(
        spark, _gapped_pdf(all_missing_before=80), 80)
    # mean -> 0, std -> 1 on an all-missing slice: finite state that
    # serializes as strict JSON, and the fleet predicts the same
    assert (model.state["mean"], model.state["std"]) == (0.0, 1.0)
    json.dumps(model.state, allow_nan=False)
    assert got == want
    assert len(want) == 40 and all(np.isfinite(w[1:]).all() for w in want)
